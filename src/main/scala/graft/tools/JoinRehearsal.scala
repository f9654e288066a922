package graft.tools

/** Analytic-join decade rehearsal: run the six multi-join analytic
  * queries (q3/q5/q8/q9/q18/q21) against a testdata directory —
  * typically the 1× sf0.1 tables and their ScaleData 10×/100×
  * derivations — and report, per query, the wall, the shuffle and
  * scan volumes, and the JOIN-STRATEGY census of the executed plan
  * (how many broadcast-hash vs shuffled joins, and whether AQE split
  * skewed partitions). The claim under test: the dimension sides
  * stay BROADCAST at every decade (they scale 1×: region/nation/
  * customer/supplier/part are copied verbatim by ScaleData, exactly
  * like real dims against a growing fact), the fact-fact joins stay
  * shuffled with bytes tracking the data, and no decade flips a dim
  * join into a shuffle (the 100 TB regression this table exists to
  * catch). Results → PERFORMANCE.md.
  *
  * Usage: JoinRehearsal <dir> <label>   (run once per decade dir)
  */
object JoinRehearsal {

  private val Queries = Seq("q3_shipping_priority", "q5_local_supplier",
    "q8_market_share", "q9_profit", "q18_large_orders",
    "q21_waiting_supplier")

  /** (broadcastHash, sortMerge, shuffledHash, nestedLoop, skewSplits)
    * of the executed plan. */
  private[graft] def joinCensus(df: org.apache.spark.sql.DataFrame)
      : (Int, Int, Int, Int, Long) = {
    val nodes = PlanMetrics.subtree(df.queryExecution.executedPlan)
    def count(frag: String) =
      nodes.count(_.getClass.getSimpleName.contains(frag))
    val skew = nodes.flatMap(_.metrics.collect {
      case (k, m) if k == "numSkewedPartitions" => m.value
    }).sum
    (count("BroadcastHashJoin"), count("SortMergeJoin"),
      count("ShuffledHashJoin"), count("BroadcastNestedLoopJoin"), skew)
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: JoinRehearsal <dir> <label>")
    val Array(dir, label) = args
    val spark = graft.LocalSession()

    val defs = graft.QueryRegistry.all.toMap
    Queries.foreach { name =>
      val build = defs(name).build
      var bestS = Double.MaxValue
      var census = (0, 0, 0, 0, 0L)
      var shuffleB = 0L
      var scanB = 0L
      var rows = 0L
      (1 to 2).foreach { _ =>
        val t0 = System.nanoTime()
        val df = build(spark, dir)
        val n = df.collect().length
        val s = (System.nanoTime() - t0) / 1e9
        if (s < bestS) {
          bestS = s
          census = joinCensus(df)
          shuffleB = PlanMetrics.shuffleBytes(df)
          scanB = PlanMetrics.bytesRead(df)
          rows = n
        }
      }
      val (bhj, smj, shj, bnl, skew) = census
      println(f"""{"phase":"join_rehearsal","label":"$label","query":"$name","wall_s":$bestS%.2f,"rows":$rows,"shuffle_bytes":$shuffleB,"scan_bytes":$scanB,"bhj":$bhj,"smj":$smj,"shj":$shj,"bnl":$bnl,"aqe_skew_splits":$skew}""")
    }
    spark.stop()
  }
}
