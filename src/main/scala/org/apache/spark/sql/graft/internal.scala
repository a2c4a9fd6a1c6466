package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Minimal bridge to `private[sql]` Spark internals (Column <-> Expression,
  * InternalRow-based DataFrame creation). Lives under
  * `org.apache.spark.sql` solely to satisfy package-private access — the
  * same pattern used by open-source Spark connector libraries.
  */
object GraftSqlInternal {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from InternalRow RDD without the external-Row conversion. */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** InternalRow RDD of a DataFrame (Tungsten rows, no conversion). */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  /** Clone with copied session state (conf, UDFs, temp views) — the
    * concrete method is on classic.SparkSession in Spark 4. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Register a table-valued function on a LIVE session (the runtime
    * complement of `SparkSessionExtensions.injectTableFunction`, which
    * only applies at session build). The builder returns the logical plan
    * the FROM-clause reference resolves to. */
  def registerTableFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The analyzed logical plan of a DataFrame (for TVF builders). */
  def analyzedPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Block until queued SparkListener events have been delivered — the
    * reliable barrier for listener-based assertions (listenerBus is
    * private[spark]). */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Write one Parquet file per `(dir, rows)` pair on the calling thread
    * with Spark's own Parquet file format: the footer, codec and encodings
    * a DataFrame write with the same `options` produces, but no Spark job.
    * Files are named like a write job's (`part-<i>-<uuid>.c000<ext>`);
    * each `dir` is created as needed. `rows` match `dataSchema`. */
  def writeParquetFiles(spark: SparkSession, dataSchema: StructType,
      options: Map[String, String], files: Iterable[(String, Iterator[InternalRow])]): Unit = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(session.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(session, job, options, dataSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID("", 0, TaskType.MAP, 0), 0))
    val name = s"${java.util.UUID.randomUUID()}.c000${factory.getFileExtension(ctx)}"
    files.iterator.zipWithIndex.foreach { case ((dir, rows), i) =>
      val w = factory.newInstance(f"$dir/part-$i%05d-$name", dataSchema, ctx)
      try rows.foreach(w.write) finally w.close()
    }
  }

  /** Re-root a DataFrame's logical plan onto another session (e.g. a
    * clone carrying different execution confs). */
  def onSession(df: DataFrame, spark: SparkSession): DataFrame =
    // the analyzed plan, so names (temp views, etc.) were already resolved
    // against the ORIGINAL session — the target only plans execution
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** True when recomputing the plan reproduces the same rows in the same
    * partition-internal order: narrow Project/Filter chains over
    * order-stable leaves. File and local relations are stable (splits are
    * deterministic). A cached relation is stable when its storage level
    * spills to disk (eviction never recomputes; executor loss still fails
    * the job rather than reorder locally) or when the cached plan itself
    * contains no shuffle. RDD-backed leaves and everything else (joins,
    * aggregates, exchanges, generators) are treated as unstable. */
  def isOrderStable(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, OneRowRelation, Project, Range, SubqueryAlias}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def stable(p: LogicalPlan): Boolean = p match {
      case m: InMemoryRelation =>
        m.cacheBuilder.storageLevel.useDisk ||
          !m.cacheBuilder.cachedPlan.exists(_.isInstanceOf[ShuffleExchangeLike])
      case _: LogicalRelation | _: LocalRelation | _: OneRowRelation |
           _: Range | _: HiveTableRelation => true
      case _: Project | _: Filter | _: SubqueryAlias => p.children.forall(stable)
      case _ => false
    }
    stable(df.queryExecution.optimizedPlan)
  }
}
