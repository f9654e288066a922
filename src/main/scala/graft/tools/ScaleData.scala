package graft.tools

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal data generator: derive an N× copy of a testdata
  * directory under a scratch path (the driver testdata itself is
  * read-only and never touched). Fact tables are scaled by unioning N
  * key-shifted copies — each copy gets a DISJOINT key population
  * (orders/lineitem shift the order key consistently so the join
  * structure is preserved; events shift user and event ids so key
  * cardinality scales with volume, the shape a real 10× of an event
  * stream has). Dimensions and the text/embedding corpora are copied
  * verbatim: scaling near-duplicate text by copying would multiply
  * duplicate-group sizes (a data-construction artifact that reads as
  * superlinear engine cost), so dedup-family queries rehearse at 1×
  * and the relational/streaming/lake families carry the 10× claim.
  *
  * With a 4th arg `corpus`, the text/embedding corpora scale too —
  * WITHOUT the duplicate-group artifact: each documents copy gets a
  * disjoint doc_id population and a copy-specific PERMUTATION of the
  * nine most frequent letters applied to its text. A letter
  * permutation is a bijection, so every within-copy shingle/Jaccard/
  * MinHash relationship is preserved EXACTLY (copy 0 is the identity
  * — its numbers equal the 1× corpus), while cross-copy texts share
  * almost no shingles — duplicate-group sizes stay constant as the
  * corpus scales, which is the honest shape of "100× more crawl
  * data", not "the same crawl 100 times". Embeddings likewise shift
  * vec_id and flip a copy-and-dimension-keyed sign pattern (an
  * isometry: within-copy cosine structure exact, cross-copy cosines
  * decorrelate to ~0).
  *
  * The corpus-only derivations past 100× (PERFORMANCE.md, "Round 14
  * (cont.): the THIRD decade — 1000× rehearsals" and "r15 ANN
  * third-decade rehearsal") went with the rehearsal mains that read
  * them.
  *
  * Usage: ScaleData <srcDir> <dstDir> <factor> [corpus]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleData <srcDir> <dstDir> <factor> [corpus]")
    val Array(src, dst, fs) = args.take(3)
    val mode = if (args.length == 4) args(3) else ""
    val spark = graft.LocalSession()
    derive(spark, src, dst, fs.toInt, mode)
    spark.stop()
  }

  /** The derivation itself, on a CALLER-OWNED session (specs call
    * this; `main` wraps it with its own session and stop). */
  def derive(spark: SparkSession, src: String, dst: String,
      factor: Int, mode: String = ""): Unit = {
    require(mode.isEmpty || mode == "corpus", s"unknown mode: $mode")
    val scaleCorpus = mode == "corpus"
    require(factor >= 1 && factor <= 100, s"factor out of range: $factor")
    require(!src.contains("/root/testdata") || dst.startsWith("/tmp"),
      "derived data must land under /tmp")

    val copyVerbatim =
      Seq("region", "nation", "customer", "supplier", "part") ++
        (if (scaleCorpus) Nil else Seq("documents", "embeddings"))
    copyVerbatim.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"copied $t")
    }

    val OrderShift = 100000000L
    val UserShift = 10000000L
    val EventShift = 1000000000L

    def scaled(t: String)(shift: (org.apache.spark.sql.DataFrame, Int)
        => org.apache.spark.sql.DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      (0 until factor).map(i => shift(base, i))
        .reduce(_.unionByName(_))
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")
      println(s"scaled $t x$factor -> " +
        spark.read.parquet(s"$dst/$t.parquet").count())
    }

    scaled("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * OrderShift))
    }
    scaled("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * OrderShift))
    }
    scaled("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * EventShift))
        .withColumn("user_id", col("user_id") + lit(i * UserShift))
    }

    if (scaleCorpus) {
      val DocShift = 10000000L
      // copy i's letter permutation (copy 0 = identity), derived by a
      // fixed LCG Fisher-Yates so the mapping is stable across JVMs
      val letters = "etaoinshr"
      def permOf(i: Int): String = {
        if (i == 0) return letters
        val a = letters.toCharArray
        var state = 0x9e3779b9L ^ (i.toLong * 0x85ebca6bL)
        def next(bound: Int): Int = {
          state = state * 6364136223846793005L + 1442695040888963407L
          (((state >>> 33) % bound).toInt + bound) % bound
        }
        var j = a.length - 1
        while (j > 0) {
          val k = next(j + 1)
          val t = a(j); a(j) = a(k); a(k) = t
          j -= 1
        }
        new String(a)
      }
      scaled("documents") { (df, i) =>
        df.withColumn("doc_id", col("doc_id") + lit(i * DocShift))
          .withColumn("text",
            translate(col("text"), letters + letters.toUpperCase,
              permOf(i) + permOf(i).toUpperCase))
      }
      scaled("embeddings") { (df, i) =>
        // per-(copy, dimension) sign flips: an isometry of the copy;
        // copy 0 stays the identity so 1x comparisons hold
        val shifted = df.withColumn("vec_id",
          col("vec_id") + lit(i * DocShift))
        if (i == 0) shifted
        else shifted.withColumn("embedding", expr(
          s"transform(embedding, (x, j) -> " +
            s"CASE WHEN pmod(xxhash64(j, $i), 2) = 0 THEN x " +
            "ELSE -x END)"))
      }
    }
  }
}
