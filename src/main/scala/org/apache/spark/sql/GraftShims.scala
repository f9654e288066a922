package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's private[sql] Column <-> Expression conversion,
  * needed to expose custom Catalyst expressions (graft.functions.*) as
  * user-facing Columns. Lives in the org.apache.spark.sql package for
  * access; contains no logic. */
object GraftShims {
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Materialize a resolved logical plan as a DataFrame
    * (Dataset.ofRows is private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A full copy of the session — shared SparkContext/SharedState,
    * CLONED SessionState (confs, temp views, UDFs, extensions). Conf
    * mutations on the clone never touch the original, which is what a
    * writer that must scope `spark.sql.parquet.outputTimestampType`
    * needs when the original session is running other queries
    * concurrently (`newSession()` won't do: it resets confs to the
    * shared-state initial values instead of inheriting them). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** `s` with every field nullable at every nesting level
    * (StructType.asNullable is private[spark]): what parquet schema
    * inference reads back from files written with `s`. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** The analyzed logical plan of a DataFrame (private[sql] in
    * classic.Dataset), for re-rooting the same computation into a
    * cloned session via [[ofRows]]. */
  def planOf(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** A parquet file-list DataFrame whose plan is tagged
    * isStreaming=true — the contract MicroBatchExecution asserts on a
    * v1 Source.getBatch result (the FileStreamSource device: resolve a
    * batch relation, wrap it in a streaming-tagged LogicalRelation). */
  def streamingParquetFrame(spark: SparkSession, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
    val cs = spark.asInstanceOf[classic.SparkSession]
    val rel = DataSource(
      sparkSession = cs,
      paths = files,
      userSpecifiedSchema = Some(schema),
      className = "parquet",
      options = Map("mergeSchema" -> "true")
    ).resolveRelation(checkFilesExist = false)
    classic.Dataset.ofRows(cs, LogicalRelation(rel, isStreaming = true))
  }

  /** A RESOLVED expression re-rooted for use on a DIFFERENT DataFrame
    * with the same column names: attribute references become
    * unresolved-by-name, so the returned Column re-resolves against
    * whatever frame it is applied to. The device that lets a catalyst
    * UPDATE/DELETE condition captured from one relation drive a
    * rewrite over a fresh read of the same table. */
  def rebindByName(e: Expression): Column = toColumn(e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        .quoted(a.name)
  })

  /** Destructure a DDL `bucket(n, col)` partition transform
    * (BucketTransform is private[sql]): Some((colName, n)) for a
    * single-column bucket transform, None for anything else. */
  def bucketTransformSpec(
      t: org.apache.spark.sql.connector.expressions.Transform)
      : Option[(String, Int)] = t match {
    case org.apache.spark.sql.connector.expressions.BucketTransform(
        numBuckets, Seq(col), Seq()) =>
      Some((col.fieldNames.mkString("."), numBuckets))
    case _ => None
  }

  /** Free the block-manager blocks behind an (eager) localCheckpoint
    * frame NOW, instead of waiting for the ContextCleaner to notice
    * the frame is unreachable — for internal intermediates a
    * long-lived driver would otherwise accumulate without bound
    * (one checkpointed shortlist per batch probe, say). The frame
    * must not be read again afterwards: a localCheckpoint's lineage
    * is truncated, so its blocks are the ONLY copy. No-op for any
    * plan that is not a checkpoint's LogicalRDD. */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Re-wrap the DataFrame a v1 streaming Sink receives as a plain
    * batch frame over the SAME computed rows (the ForeachBatchSink
    * device: LogicalRDD over queryExecution.toRdd, isStreaming=false)
    * — new actions like a parquet write are legal on the result and do
    * not recompute the micro-batch. */
  def unstream(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      cdf.queryExecution.toRdd, cdf, isStreaming = false)
    classic.Dataset.ofRows(cdf.sparkSession, node)
  }
}
