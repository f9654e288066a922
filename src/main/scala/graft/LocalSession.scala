package graft

import org.apache.spark.sql.SparkSession

/** The one local session policy every graft entry point runs under:
  * Bench, Verify, the `graft.tools` mains and the test suites. A query
  * profiled or dumped by a tool runs with the same settings the bench
  * times it with.
  *
  * `cores` defaults to `SPARK_GRAFT_CPUS` (32 when unset) and sets both
  * the `local[N]` master and the shuffle partition count. */
object LocalSession {
  def apply(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // storage-partitioned joins over bucketed graft tables
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // one-side-shuffle SPJ: a computed frame joined against a
      // bucketed scan shuffles ONLY itself into the table's layout
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
