package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` surface, following the standard pattern
  * for Spark extension libraries (a sub-package of
  * `org.apache.spark.sql` sees `private[sql]` members).
  *
  * Used for: wrapping custom Catalyst Expressions as Columns, and
  * runtime function registration on sessions created without
  * `spark.sql.extensions` (e.g. by an external driver).
  */
object GraftBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a named Expression-backed SQL function on a live session
    * (idempotent). */
  def registerFunction(spark: SparkSession, name: String, usage: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val id = FunctionIdentifier(name)
    if (!registry.functionExists(id)) {
      registry.registerFunction(id,
        new ExpressionInfo("graft", name, usage), builder)
    }
  }

  /** Register a named TABLE function (`SELECT * FROM fn(...)`) on a
    * live session (idempotent). */
  def registerTableFunction(
      spark: SparkSession, name: String, usage: String,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
    val id = FunctionIdentifier(name)
    if (!registry.functionExists(id)) {
      registry.registerFunction(id,
        new ExpressionInfo("graft", name, usage), builder)
    }
  }

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point
    * a custom whole-operator node needs (Dataset.ofRows is
    * private[sql]). */
  def dataset(spark: SparkSession,
              plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The logical plan behind a DataFrame (for table-function bodies). */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.logical

  /** The ANALYZED plan behind a DataFrame — resolved expressions with
    * evaluable literals (Dataset.queryExecution is private[sql]). */
  def analyzedPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Executor-side parquet reader function for the `graft` DataSource
    * V2 connector — Spark's OWN vectorized parquet reader (the one
    * FileSourceScanExec plans), built once on the driver and shipped
    * to tasks. `OPTION_RETURNING_BATCH=false` keeps the OUTPUT
    * row-oriented (vectorized decode still happens inside) so a
    * `PartitionReader[InternalRow]` can consume it directly, and —
    * load-bearing for deletion vectors — rows arrive in FILE ORDER,
    * making `row position = running count` exact when no filters are
    * pushed. The reader registers its own task-completion close. */
  def parquetReadFunc(
      spark: SparkSession,
      dataSchema: org.apache.spark.sql.types.StructType,
      requiredSchema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(
        cs, dataSchema, new org.apache.spark.sql.types.StructType(),
        requiredSchema, filters,
        Map(org.apache.spark.sql.execution.datasources.FileFormat
          .OPTION_RETURNING_BATCH -> "false"),
        cs.sessionState.newHadoopConf())
  }

  /** A [[org.apache.spark.sql.execution.datasources.PartitionedFile]]
    * covering one whole local file (no split, no partition values). */
  def wholeFile(absPath: String, length: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      org.apache.spark.sql.catalyst.InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(absPath),
      0L, length, Array.empty, 0L, length,
      Map.empty)

  /** A byte-range slice of a file (Spark's reader maps it to the row
    * groups whose midpoint falls inside [start, start+length)). */
  def rangeFile(absPath: String, start: Long, length: Long,
                fileSize: Long)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =
    org.apache.spark.sql.execution.datasources.PartitionedFile(
      org.apache.spark.sql.catalyst.InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromPathString(absPath),
      start, length, Array.empty, 0L, fileSize,
      Map.empty)

  /** SQLConf file-partitioning knobs (the same ones FileSourceScanExec
    * sizes its partitions with). */
  def filesMaxPartitionBytes(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesMaxPartitionBytes
  def filesOpenCostInBytes(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesOpenCostInBytes

  /** Drops a pinned RDD's blocks without `RDD.unpersist`'s warning
    * that a locally checkpointed RDD cannot be recomputed: the caller
    * frees a pin only after its last use (`SparkContext.unpersistRDD`
    * is private[spark]). */
  def releasePin(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Re-anchor a STREAMING micro-batch frame as a standalone batch
    * DataFrame (a V1 `Sink.addBatch` frame is backed by an
    * IncrementalExecution that must not be re-planned — the same
    * re-anchoring Delta's V1 sink performs). */
  def materializeStreamBatch(data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = data.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val cs = ds.sparkSession
    cs.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }
}
