package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to `private[sql]` surface that third-party Catalyst
  * expressions need: Column <-> Expression conversion and temp-function
  * registration. Spark 4 wraps Columns in ColumnNodes with no public
  * Expression accessor, so libraries shipping native expressions (graft's
  * [[graft.expressions.DotProduct]]) need exactly these two hooks. Nothing
  * else from the private API is touched.
  */
object GraftSqlBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register `name` as a SQL-callable function in this session. */
  def registerFunction(
      spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Register `name` as a SQL-callable TABLE function (TVF) in this
    * session — `SELECT * FROM name(...)`. The builder runs at analysis
    * and returns the logical plan the call resolves to; Spark's
    * `tableFunctionRegistry` is `private[sql]`, so libraries shipping
    * TVFs (graft's `graft_table_changes`) need exactly this hook, the
    * table-valued twin of [[registerFunction]]. */
  def registerTableFunction(
      spark: SparkSession, name: String,
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Wrap a [[org.apache.spark.sql.sources.BaseRelation]] (e.g. a
    * `HadoopFsRelation` over a library-provided `FileIndex`) as a
    * DataFrame. Spark 4's abstract SparkSession no longer exposes
    * `baseRelationToDataFrame`; the classic session still does — this is
    * the hook that lets graft's manifest-pruning FileIndex
    * ([[graft.storage.ManifestFileIndex]]) plan through the standard
    * `FileSourceScanExec` path (whole-stage codegen, vectorized parquet,
    * row-group pushdown) instead of a custom scan node. */
  def ofRelation(spark: SparkSession,
      relation: org.apache.spark.sql.sources.BaseRelation): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)

  /** [[ofRelation]] with the plan's `isStreaming` bit set — what a v1
    * streaming [[org.apache.spark.sql.execution.streaming.Source]]'s
    * `getBatch` must return (MicroBatchExecution asserts the spliced
    * plan is streaming). Only the DATA relation is marked; frames
    * joined against it (delete key lists) stay batch, so stream-static
    * joins plan as such. */
  def ofStreamingRelation(spark: SparkSession,
      relation: org.apache.spark.sql.sources.BaseRelation): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        relation, isStreaming = true))

  /** Wrap an already-ANALYZED logical plan as a DataFrame — what a
    * planner strategy needs to evaluate a command's child plans (e.g.
    * the source and target relations of a MERGE) with their resolved
    * attribute ids intact, so resolved expressions lifted via
    * [[column]] keep referring to the same attributes. */
  def ofPlan(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The physical plan of a streaming query's LAST executed micro-batch
    * — the plan-shape probe tests need to assert that pushed filters
    * reach the per-batch relation (e.g. that a micro-batch scan pruned
    * partitions through [[graft.storage.ManifestFileIndex]]). */
  def lastExecutedPlan(q: org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.execution.SparkPlan =
    q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan

  /** Re-wrap a streaming micro-batch frame (a v1 `Sink.addBatch`
    * argument) as a BATCH frame over the SAME physical rows — the plan
    * executes exactly once when the sink's single write action runs,
    * and batch-side writers stop refusing the streaming flag. Delta's
    * sink does the same internalCreateDataFrame(toRdd) dance. */
  def ofInternalRows(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Re-mark every leaf relation of an already-built BATCH frame as
    * streaming — how a v1 `Source.getBatch` can serve a frame COMPOSED
    * by batch-side machinery (e.g. the manifest-derived change feed's
    * unions of parquet reads and literal columns) to
    * MicroBatchExecution, which asserts the spliced plan is streaming.
    * Marking every leaf (not just one) keeps unions homogeneous. */
  def asStreaming(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plan = df.queryExecution.analyzed.transform {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if !lr.isStreaming => lr.copy(isStreaming = true)
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if !l.isStreaming => l.copy(isStreaming = true)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(cs, plan)
  }

  /** An empty STREAMING frame of `schema` — the zero-rows `getBatch`
    * answer for a window in which no data txn landed. */
  def emptyStreaming(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        Seq.empty, isStreaming = true))

  /** Spark's OWN bucket-file name parser — the branding a bucketed
    * layout rewrite ([[graft.storage.TxnCatalog]] `bucketTable`) must
    * reproduce exactly: a file whose name this parses to bucket `k` is
    * read by the bucketed scan as bucket `k`'s data, and a file it
    * cannot parse fails the scan. Exposing the real parser (instead of
    * re-deriving the regex) keeps the rename provably in sync with the
    * reader. */
  def bucketIdOf(fileName: String): Option[Int] =
    org.apache.spark.sql.execution.datasources.BucketingUtils
      .getBucketId(fileName)

  /** Spark's OWN parquet `mergeSchema` step: `a` merged with `b` as
    * `SchemaMergeUtils` folds two footer schemas, failing with the
    * same CANNOT_MERGE_SCHEMAS error — so a schema folded from cached
    * footers ([[graft.storage.TxnCatalog]] `readParquetCached`) equals
    * the one Spark's inference job would build. */
  def mergeFooterSchemas(spark: SparkSession,
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    try a.merge(b, spark.sessionState.conf.caseSensitiveAnalysis)
    catch {
      case e: org.apache.spark.SparkException =>
        throw org.apache.spark.sql.errors.QueryExecutionErrors
          .failedMergingSchemaError(a, b, e)
    }
}
