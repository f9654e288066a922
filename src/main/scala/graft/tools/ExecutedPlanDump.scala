package graft.tools

/** Dump the EXECUTED adaptive plan of declared queries — the
  * post-action `queryExecution.executedPlan`, where AQE's runtime
  * decisions (ReusedQueryStage / exchange reuse, AQEShuffleRead
  * coalescing, join-strategy rewrites) are visible. [[PlanDump]]'s
  * formatted pre-execution dump cannot show these: it prints the
  * initial plan (`isFinalPlan=false`), so a claim like "AQE dedups
  * q15's two rev-aggregate subtrees at runtime" needs THIS artifact
  * (r19 verdict item 8).
  *
  * The query's own QueryExecution is executed via `collect()` (not
  * `count()`/a noop write, which build a DIFFERENT QueryExecution and
  * would leave this one un-finalized) — appropriate for the small
  * declared results this tool targets; don't point it at a queries×
  * corpus frame.
  *
  * Args: <sfDir> <outDir> [suffix] [onlyPrefixes]
  */
object ExecutedPlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExecutedPlanDump <sfDir> <outDir> [suffix] [onlyPrefixes]")
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = if (args.length > 2) args(2) else "_executed"
    val only = if (args.length > 3)
      Some(args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet)
    else None
    val spark = graft.LocalSession()
    val ordered = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    for ((name, fn) <- ordered) {
      spark.sparkContext.setJobDescription(s"executedplandump: $name")
      val body =
        try {
          val df = fn(spark, sfDir)
          df.collect() // finalize THIS QueryExecution's adaptive plan
          df.queryExecution.executedPlan.toString
        } catch {
          case e: Throwable =>
            s"ERROR executing $name: ${e.getClass.getName}: ${e.getMessage}"
        }
      java.nio.file.Files.write(outDir.resolve(s"$name$suffix.txt"),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"dumped $name")
    }
    spark.stop()
  }
}
