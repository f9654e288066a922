package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Plan-shape assertions: the properties that make these queries scale
  * (filter pushdown to the scan, column pruning, broadcast dimension
  * joins, partial-aggregation top-k) hold in the optimized physical
  * plan — not just "the answer is right". Guards against regressions
  * that stay correct but stop scaling. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("p9 watermark range predicate is pushed to the parquet scan") {
    val p = planOf("p9_watermark_range")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q1 scan prunes to the 7 referenced lineitem columns") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_orderkey"), "unreferenced column not pruned:\n" + p)
    assert(p.contains("l_returnflag"))
  }

  test("q1 aggregates map-side (partial) before the exchange") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("j2 dimension joins are broadcast, fact side not shuffled") {
    val p = planOf("j2_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sim1 top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = planOf("sim1_brute_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("j3b semi-join stays a semi-join (no materialized inner)") {
    val p = planOf("j3b_left_semi")
    assert(p.contains("LeftSemi"), p)
  }

  test("w3 window sorts within partitions only (no global Exchange " +
    "beyond the hash partitioning)") {
    val p = planOf("w3_running_sum")
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(l_suppkey"), p)
  }

  test("native cosine expression appears in the sim1 plan (codegen path)") {
    val p = planOf("sim1_brute_topk")
    assert(p.contains("cosine_similarity"), p)
  }

  test("native hyperplane_bucket expression appears in the LSH index plan") {
    val p = planOf("sim2_lsh_topk")
    assert(p.contains("hyperplane_bucket"), p)
  }

  test("q6's three filters all reach the parquet scan as PushedFilters") {
    // the rendered plan truncates PushedFilters at maxMetadataStringLength,
    // so assert on the scan node's pushed-down data filters directly
    // (sparkPlan, not executedPlan: the AQE wrapper hides the leaves)
    val scan = SparkEntry.queries("q6_forecast_revenue")(spark, sfDir)
      .queryExecution.sparkPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in plan"))
    val pushed = scan.metadata("PushedFilters")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity").foreach { f =>
      assert(pushed.contains(f), s"$f not pushed: $pushed")
    }
  }

  test("q19's disjunctive predicate keeps a broadcast hash join on the " +
    "extracted equi-key, never a nested loop") {
    val p = planOf("q19_disjunctive_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("NestedLoop"), p)
  }

  test("q4's correlated EXISTS decorrelates to a left-semi join") {
    val p = planOf("q4_exists_semi")
    assert(p.contains("LeftSemi"), p)
  }

  test("DataMerge's target read is partition-pruned to touched partitions") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val path = tmpDir("dmplan") + "/t"
    Seq((1L, 1.0, 2020), (2L, 2.0, 2021), (3L, 3.0, 2022))
      .toDF("k", "v", "part").write.partitionBy("part").parquet(path)
    // the pruned read DataMerge builds internally: only part=2022 dirs
    val pruned = spark.read.parquet(path).where(col("part").isin(2022))
    // the isin filter must land in PartitionFilters (directory pruning),
    // not as a post-scan data filter
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.exists(_.toString.contains("part")),
      scan.partitionFilters.toString)
    // exactly one of three partition dirs is actually read
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files).forall(_.getPath.toString.contains("part=2022")))
    assert(pruned.count() == 1)
  }

  test("q8's six dimension joins all broadcast (no dim ever shuffles)") {
    val p = planOf("q8_market_share")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  // the r19 rewrites' real property is "the fact is scanned once and
  // the per-group value rides a Window on that one pass" — asserting
  // a blanket no-SortMergeJoin would false-fail if a config/stats
  // change merely flipped the small orders/supplier joins from
  // broadcast to SMJ, which has nothing to do with the rewrite
  // (r19 ADVICE)
  private def lineitemScans(p: String): Int =
    "lineitem\\.parquet".r.findAllIn(p).length

  /** The executed adaptive plan after AQE's runtime rewrites: collect
    * THIS QueryExecution (a count() would build a different one), then
    * keep the part above `== Initial Plan ==`. */
  private def finalPlanOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("isFinalPlan=true"), p)
    finalPlan
  }

  test("q21's EXISTS/NOT-EXISTS correlation planned without nested loops") {
    val p = finalPlanOf("q21_waiting_supplier")
    assert(!p.contains("NestedLoop"),
      "correlation fell back to a nested-loop join:\n" + p)
    // the per-order counts ride a WINDOW over the single l_orderkey
    // partitioning (optimization r19): the aggregate+self-join form
    // would scan lineitem again and join the fact against itself
    assert(p.contains("Window"), p)
    assert(lineitemScans(p) == 1,
      "the per-order counts regressed to a second lineitem scan:\n" + p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q17's per-part average threshold is a window, not a second " +
    "scan+aggregate of lineitem joined back (optimization r19)") {
    val p = finalPlanOf("q17_small_quantity")
    assert(p.contains("Window"), p)
    assert(!p.contains("NestedLoop"), p)
    assert(lineitemScans(p) == 1,
      "the per-part average regressed to a second lineitem scan:\n" + p)
  }

  test("q15's two rev consumers share ONE lineitem aggregation at " +
    "runtime (AQE ReusedExchange in the executed plan — optimization " +
    "r20; needs the explicit isNotNull that makes the subtrees " +
    "canonically identical)") {
    val finalPlan = finalPlanOf("q15_top_supplier")
    assert(finalPlan.contains("ReusedExchange"),
      "the max-of-rev branch re-scanned lineitem instead of reusing " +
        "the groupBy shuffle:\n" + finalPlan)
    assert(lineitemScans(finalPlan) == 1, finalPlan)
  }

  test("dc1's eval-gram side broadcasts into a semi-join (corpus never " +
    "shuffles against the eval set)") {
    val p = planOf("dc1_decontaminate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("emb1 centroid reduction is one hash shuffle on (label, dim)") {
    val p = planOf("emb1_label_centroids")
    assert(p.contains("hashpartitioning(label"), p)
    assert(p.contains("partial_avg") || p.contains("partial"),
      "centroid avg not map-side partial:\n" + p)
  }

  test("a selective shuffle join injects a runtime bloom filter on the " +
    "probe side (the 100 TB fact-fact pruning path)") {
    // child session: force the shuffle-join path (no broadcast) and
    // drop the bloom-filter size thresholds to bench scale
    val c = spark.newSession()
    c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    c.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    c.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100GB")
    c.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val orders = graft.Tables(c, sfDir, "orders")
      .where(org.apache.spark.sql.functions.col("o_totalprice") > 350000)
    val li = graft.Tables(c, sfDir, "lineitem")
    val joined = li.join(orders,
      li("l_orderkey") === orders("o_orderkey"))
    val p = joined.queryExecution.optimizedPlan.toString
    assert(p.contains("bloom_filter") || p.contains("might_contain"),
      "no runtime bloom filter in optimized plan:\n" + p)
    assert(joined.count() > 0)
  }

  test("a partition-column join triggers dynamic partition pruning " +
    "on the fact scan (the 100 TB partitioned-lake join path)") {
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files.createTempDirectory("dpp").toString
    // fact: lineitem partitioned by return flag (stand-in for the
    // date-partitioned lake layout); dim: filtered on a NON-join
    // column — a filter on the join key itself would constant-
    // propagate into STATIC partition pruning and never need DPP
    graft.Tables(spark, sfDir, "lineitem")
      .write.partitionBy("l_returnflag").parquet(s"$base/fact")
    spark.createDataFrame(Seq(("R", 1), ("A", 2), ("N", 2)))
      .toDF("flag", "grp").write.parquet(s"$base/dim")
    val fact = spark.read.parquet(s"$base/fact")
    val dim = spark.read.parquet(s"$base/dim").where(col("grp") === 1)
    val j = fact.join(dim, fact("l_returnflag") === dim("flag"))
    val p = j.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      "no dynamic partition pruning in plan:\n" + p)
    assert(j.count() > 0)
  }

  test("AQE splits a skewed join partition at runtime (the engine-side " +
    "complement to operators.Skew's manual salting)") {
    import org.apache.spark.sql.functions._
    val c = spark.newSession()
    c.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    c.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    c.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    c.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    c.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
    // 95% of left rows share key 0 -> one shuffle partition dwarfs the rest
    val left = c.range(200000).select(
      when(col("id") % 20 === 0, col("id") % 100).otherwise(lit(0L)).as("k"),
      col("id").as("payload"))
    val right = c.range(100).select(col("id").as("k"), lit("dim").as("v"))
    // collect() drives THIS frame's QueryExecution (count() would spawn
    // its own), so the adaptive plan below is the FINAL one
    // the downstream aggregate is GLOBAL (partial-agg absorbs the join
    // output) — a groupBy on the join key would REQUIRE the join's hash
    // partitioning and AQE would refuse to split the skewed partition
    val j = left.join(right, "k").agg(sum("payload"))
    assert(j.collect().nonEmpty)
    val p = j.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("skew=true"), "no runtime skew split in plan:\n" + p)
  }

  test("w9 time-range frames ride ONE hash shuffle on the partition key") {
    val p = planOf("w9_rolling_window")
    assert(p.contains("Window"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange:\n$p")
  }

  test("tx9 vocabulary top-k is TakeOrderedAndProject over partial " +
    "counts (no global sort of the vocabulary)") {
    val p = planOf("tx9_vocab")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    assert(!p.contains("Sort "), "no global Sort expected:\n" + p)
  }

  test("tx7 PII scrub is a pure projection — no Exchange anywhere") {
    val p = planOf("tx7_pii_scrub")
    assert(!p.contains("Exchange"), "scrub should not shuffle:\n" + p)
  }

  test("ch1 chunking is generate-only — no Exchange anywhere") {
    val p = planOf("ch1_token_chunks")
    assert(p.contains("Generate"), p)
    assert(!p.contains("Exchange"), "chunking should not shuffle:\n" + p)
  }

  test("dd9 first-occurrence is a partial-aggregated groupBy + join " +
    "— never a Window keyed by raw paragraph text (a boilerplate " +
    "paragraph repeated billions of times would pin one task)") {
    val p = planOf("dd9_paragraph_dedup")
    assert(!p.contains("Window"),
      "window on paragraph text is irreducibly hot-key-bound:\n" + p)
    // map-side partial min collapses the hot paragraph before the
    // exchange; the join-back stays AQE-skew-splittable
    assert(p.contains("partial_min") || p.contains("partial"), p)
    assert(p.contains("hashpartitioning(para"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("ir1 corpus stats broadcast into the scoring pass (no shuffle " +
    "of the document side)") {
    val p = planOf("ir1_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sp6 per-lang targets broadcast; docs shuffle once for the rank " +
    "window") {
    val p = planOf("sp6_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hashpartitioning(lang"), p)
  }
}
