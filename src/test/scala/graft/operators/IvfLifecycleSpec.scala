package graft.operators

import graft.SparkSpec
import graft.streaming.AnnIngest
import org.apache.spark.sql.DataFrame

/** The persisted-IVF lifecycle every code (float, int8, product) shares:
  * the source-absorption epoch each step commits, two builds racing to
  * one empty path, and the refusal of a plain parquet dir (no commit
  * log) at every persisted ANN entry point. */
class IvfLifecycleSpec extends SparkSpec {
  import spark.implicits._

  // dim 16 one-hot vectors: every subvector appears among the seed rows,
  // so the product books train exactly and every code round-trips
  private def oneHot(axis: Int): Array[Float] =
    Array.tabulate(16)(d => if (d == axis) 1f else 0f)

  private def vecs(ids: Seq[Long], shift: Int = 0): DataFrame =
    ids.map(i => (i, oneHot(((i + shift) % 16).toInt)))
      .toDF("vec_id", "embedding")

  private lazy val corpus = vecs(1L to 64L)
  private lazy val cb = Similarity.buildCodebook(corpus, "embedding",
    "vec_id", nlist = 8)
  private lazy val books = ProductQuant.train(corpus, "embedding",
    "vec_id", numSub = 4, k = 32, iters = 2)

  /** One code's lifecycle entry points. `rebuild` is the code's
    * drift response: the float retrain (epoch kept) or the
    * source-based rebuild (epoch bumped). */
  private case class Code(name: String, seed: String => Unit,
      append: (DataFrame, String) => Unit, build: (DataFrame, String) => Unit,
      rebuild: String => Unit, rebuildBumps: Boolean)

  private lazy val codes = Seq(
    Code("float",
      p => Similarity.ensurePersistedIvf(corpus, "embedding", cb, p),
      (df, p) => Similarity.appendToPersistedIvf(df, "embedding", cb, p),
      (df, p) => Similarity.writePersistedIvf(df, "embedding", cb, p),
      p => Similarity.retrainPersistedIvf(spark, p, "embedding", "vec_id",
        nlist = 8),
      rebuildBumps = false),
    Code("int8",
      p => Similarity.ensurePersistedIvf(corpus, "embedding", cb, p,
        Some("vec_id")),
      (df, p) => Similarity.appendToPersistedIvfPq(df, "embedding",
        "vec_id", cb, p),
      (df, p) => Similarity.writePersistedIvfPq(df, "embedding", "vec_id",
        cb, p),
      p => Similarity.rebuildPersistedIvfPq(spark, p, corpus, "embedding",
        "vec_id", nlist = 8),
      rebuildBumps = true),
    Code("product",
      p => Similarity.ensurePersistedIvf(corpus, "embedding", cb, p,
        Some("vec_id"), Some(books)),
      (df, p) => Similarity.appendToPersistedIvfProduct(df, "embedding",
        "vec_id", p),
      (df, p) => Similarity.writePersistedIvfProduct(df, "embedding",
        "vec_id", cb, books, p),
      p => Similarity.rebuildPersistedIvfProduct(spark, p, corpus,
        "embedding", "vec_id", nlist = 8, numSub = 4, kSub = 32,
        pqIters = 1),
      rebuildBumps = true))

  /** The epoch the LATEST commit itself carries — an append must
    * re-emit it, not merely leave an older commit's value visible. */
  private def committedEpoch(path: String): Long = {
    val v = Versioned.versions(spark, path).max
    Versioned.readMeta(spark, path, v)(Similarity.IvfEpochKey).toLong
  }

  Seq("float", "int8", "product").foreach { name =>
    test(s"epoch rule, $name code: the seed commits 0, an append " +
      "re-emits the epoch unchanged, a build over an existing index " +
      "bumps it, and the drift response keeps (retrain) or bumps " +
      "(source rebuild) it") {
      val c = codes.find(_.name == name).get
      val path = tmpDir(s"ivfepoch-$name") + "/index"
      c.seed(path)
      assert(Versioned.versions(spark, path) == Seq(0L))
      assert(committedEpoch(path) == 0L)
      c.seed(path) // idempotent: a second seed commits nothing
      assert(Versioned.versions(spark, path) == Seq(0L))
      c.append(vecs(1L to 8L), path)
      assert(committedEpoch(path) == 0L, "append changed the epoch")
      c.build(corpus, path)
      assert(committedEpoch(path) == 1L, "build over an index kept the epoch")
      c.build(corpus, path)
      assert(committedEpoch(path) == 2L)
      val v = Versioned.versions(spark, path).max
      c.append(vecs(100L to 103L), path)
      assert(Versioned.versions(spark, path).max == v + 1)
      assert(committedEpoch(path) == 2L, "append did not re-emit the epoch")
      c.rebuild(path)
      assert(committedEpoch(path) == (if (c.rebuildBumps) 3L else 2L))
      assert(Similarity.rebuildEpoch(spark, path) == committedEpoch(path))
      assert(Similarity.loadPersistedIvf(spark, path).get.code.scheme ==
        codes.indexOf(c), "the lifecycle changed the index's code")
    }
  }

  test("two builds racing to one empty path both return; the index is " +
    "one of the two builds and its epoch counts the overwrite") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = tmpDir("ivfbuildrace") + "/index"
    val a = vecs(1L to 32L)
    val b = vecs(1001L to 1040L, shift = 3)
    val cbA = Similarity.buildCodebook(a, "embedding", "vec_id", nlist = 4)
    val cbB = Similarity.buildCodebook(b, "embedding", "vec_id", nlist = 8)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val builds = Seq((a, cbA), (b, cbB)).map { case (df, c) =>
        Future {
          start.await()
          Similarity.writePersistedIvf(df, "embedding", c, path)
        }
      }
      start.countDown()
      val stats = Await.result(Future.sequence(builds), 300.seconds)
      assert(stats.map(_.vectors) == Seq(32L, 40L))
    } finally pool.shutdown()
    val st = Similarity.loadPersistedIvf(spark, path).get
    val (won, wonCb) =
      if (st.fingerprint == Similarity.fingerprint(cbA)) (a, cbA)
      else (b, cbB)
    assert(st.fingerprint == Similarity.fingerprint(wonCb),
      "the index carries neither build's codebook")
    assert(Versioned.read(spark, path).select($"vec_id").as[Long]
      .collect().sorted.toSeq ==
      won.select($"vec_id").as[Long].collect().sorted.toSeq)
    // one build created version 0, the other overwrote it once
    assert(Versioned.versions(spark, path) == Seq(0L, 1L))
    assert(st.epoch == 1L)
  }

  test("a plain parquet dir refuses at every persisted entry point and " +
    "points at the rebuild; nothing is committed over it") {
    val lsh = tmpDir("plainlsh") + "/index"
    Similarity.index(corpus, "embedding", 4, 16)
      .write.partitionBy("bucket").parquet(lsh)
    val q = oneHot(3)
    val queries = Seq((1L, q)).toDF("qid", "qemb")
    def refuses(pointer: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(pointer), e.getMessage)
    }
    refuses("writePersistedIndex")(
      Similarity.appendToPersistedIndex(corpus, "embedding", 4, 16, lsh))
    refuses("writePersistedIndex")(
      Similarity.probePersistedIndex(spark, lsh, "embedding", "vec_id", q,
        numPlanes = 4, k = 5))
    refuses("writePersistedIndex")(
      Similarity.probePersistedLshMany(spark, lsh, "embedding", "vec_id",
        queries, "qid", "qemb", k = 5))

    val ivf = tmpDir("plainivf") + "/index"
    Similarity.ivfAssign(corpus, "embedding", cb)
      .write.partitionBy("list_id").parquet(ivf)
    val p = "writePersistedIvf"
    refuses(p)(Similarity.appendToPersistedIvf(corpus, "embedding",
      cb, ivf))
    refuses(p)(Similarity.appendToPersistedIvfPq(corpus, "embedding",
      "vec_id", cb, ivf))
    refuses(p)(Similarity.appendToPersistedIvfProduct(corpus,
      "embedding", "vec_id", ivf))
    refuses(p)(Similarity.probePersistedIvf(spark, ivf, "embedding",
      "vec_id", q, nprobe = 2, k = 5))
    refuses(p)(Similarity.probePersistedIvf(spark, ivf, "embedding",
      "vec_id", q, cb, nprobe = 2, k = 5))
    refuses(p)(Similarity.probePersistedIvfMany(spark, ivf,
      "embedding", "vec_id", queries, "qid", "qemb", nprobe = 2, k = 5))
    refuses(p)(Similarity.retrainPersistedIvf(spark, ivf, "embedding",
      "vec_id", nlist = 8))
    refuses(p)(Similarity.rebuildPersistedIvfPq(spark, ivf, corpus,
      "embedding", "vec_id", nlist = 8))
    val e = intercept[IllegalStateException] {
      AnnIngest.processBatch(corpus, 0L, "embedding", cb, ivf)
    }
    assert(e.getMessage.contains(p), e.getMessage)
    Seq(lsh, ivf).foreach(d => assert(!SnapshotScan.isSnapshot(spark, d),
      s"a refused entry point committed over $d"))
  }
}
