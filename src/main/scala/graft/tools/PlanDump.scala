package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for declared queries to one file per
  * query — the optimization rounds' evidence artifact (plans/rNN/).
  *
  * Args: <sfDir> <outDir> [suffix] [onlyPrefixes]
  *   suffix       appended to the file name (e.g. "_before", "_after")
  *   onlyPrefixes comma-separated query-name prefixes (default: all)
  *
  * The dump builds each query's DataFrame exactly as the bench does —
  * for lifecycle queries (streaming ingest, merge folds) that means
  * the setup actions run and the captured plan is the DECLARED result
  * frame, which is what the driver times the count() of.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <outDir> [suffix] [onlyPrefixes]")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = if (args.length > 2) args(2) else ""
    val only = if (args.length > 3)
      Some(args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val spark = graft.LocalSession()
    val ordered = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    for ((name, fn) <- ordered) {
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val body =
        try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch {
          case e: Throwable =>
            s"ERROR building $name: ${e.getClass.getName}: ${e.getMessage}"
        }
      java.nio.file.Files.write(outDir.resolve(s"$name$suffix.txt"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"dumped $name")
    }
    spark.stop()
  }
}
