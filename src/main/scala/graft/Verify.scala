package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (+ errors.json for queries that threw), for the
  * driver's DuckDB compare. */
object Verify {

  /** Run `queries` concurrently, writing each result under `outDir`
    * and returning the failures as name → message. Erroring queries
    * must be REPORTED, not vanish: r5's st2/st3/st10 threw at analysis
    * and silently dropped out of CORRECTNESS_r05 (171 keys vs 174
    * declared) because the old catch discarded them. */
  private[graft] def runAll(spark: SparkSession, sfDir: String,
      outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Map[String, String] = {
    // Concurrent query submission: Spark's scheduler interleaves the jobs
    // across the local[N] cores; cuts verify wall-clock ~6x vs sequential.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val futures = queries.map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(s"[verify] $name failed: $msg")
          errors.put(name, msg.take(500))
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    import scala.jdk.CollectionConverters._
    errors.asScala.toMap
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def writeJson(path: String,
      entries: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(path),
      entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated name-prefix filter for targeted local
    // iteration (e.g. SPARK_GRAFT_VERIFY_ONLY=q10); driver runs unset.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val errors = runAll(spark, sfDir, outDir,
      SparkEntry.queries.toSeq
        .filter { case (n, _) => only.forall(_.exists(n.startsWith)) })
    writeJson(s"$outDir/oracle_sql.json",
      SparkEntry.oracleSql.toSeq
        .filter { case (k, _) => only.forall(_.exists(k.startsWith)) })
    // errors.json beside oracle_sql.json: the driver (and
    // scripts/check.py) surface an `err` row instead of a missing key.
    writeJson(s"$outDir/errors.json", errors.toSeq.sortBy(_._1))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer(ies) errored — " +
        s"see $outDir/errors.json")
    spark.stop()
  }
}
