package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // JVM/codegen warmup so the first measured query isn't charged ~5s
    // of one-time cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    // Two timed executions per query, report the min: strips one-off
    // codegen-compile + GC/JIT noise (observed single-run swings of
    // 4s -> 36s on expression-heavy queries) without hiding real cost.
    // The passes are INTERLEAVED (all queries once, then all again) so
    // a host-level CPU-throttle window degrades at most one of a
    // query's two samples; back-to-back repeats would lose both.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    // Optional comma-separated name-prefix filter for targeted local
    // iteration (e.g. SPARK_GRAFT_BENCH_ONLY=st6,st7); driver runs unset.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    val best = scala.collection.mutable.Map.empty[String, Double]
    val errors = scala.collection.mutable.Map.empty[String, String]
    for (_ <- 1 to runs; (name, fn) <- ordered) {
      val t0 = System.nanoTime()
      // A query that throws is recorded as an error, NOT a timing — an
      // instant failure must never masquerade as the round's fastest query.
      try {
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        if (sec < best.getOrElse(name, Double.MaxValue)) best(name) = sec
        // A success supersedes a transient failure from an earlier pass —
        // otherwise one flaky run would silently drop a valid timing.
        errors.remove(name)
      } catch {
        case e: Throwable =>
          // Never let a late transient failure discard a valid earlier
          // timing: a name is an error only if NO pass ever timed it.
          if (!best.contains(name))
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
      }
    }
    val results = best.toMap
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def qsJson(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Full per-query map — goes to bench_out.json (no size constraint).
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""nqueries":${results.size},"queries":${qsJson(results.toSeq.sortBy(_._1))},""" +
      s""""errors":$errs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver keeps only the LAST 2000 chars of stdout, so the full
    // 126-query map (~4 kB) arrives decapitated and unparseable
    // (BENCH_r01/r02). The stdout line carries the total, the count, and
    // the slowest 40 queries (everything the baseline comparison ranks
    // on); the complete map is in bench_out.json.
    // The TWO window canaries always ride the stdout line, ranked or
    // not: pf2 (CPU/expression-bound) tracks compute throttle, vt1
    // (three real segment commits) tracks IO throttle — the r16 bench
    // saga showed a CPU canary alone is blind to IO-throttle phases,
    // and adjudicating without both costs whole re-runs. A regression
    // call requires BOTH canaries near their clean references (see
    // PERFORMANCE.md, canary protocol).
    val canaries = Set("pf2_profile_approx_bound", "vt1_time_travel")
    // the adjudication protocol is only as good as its data: a renamed
    // or dropped canary must not silently vanish from the stdout line
    // (the filter below would just match nothing)
    val missing = // a targeted local run legitimately skips canaries
      if (only.nonEmpty) Set.empty[String]
      else canaries -- results.keySet -- errors.keySet
    missing.foreach(c => System.err.println(
      s"WARN: bench canary $c produced no timing — the two-canary " +
        "adjudication protocol is blind this round; check the query " +
        "name in SparkEntry.queries"))
    val slowest = (results.toSeq.sortBy(-_._2).take(40) ++
      results.toSeq.filter(kv => canaries(kv._1))).distinct.sortBy(_._1)
    val omitted = results.size - slowest.size
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""nqueries":${results.size},"queries_omitted":$omitted,""" +
      s""""full":"bench_out.json","queries":${qsJson(slowest)},""" +
      s""""errors":$errs,"sf":"$sfDir"}"""
    spark.stop()
    println(line)
  }
}
