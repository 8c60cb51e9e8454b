package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils,
  SparkSession => CSpark}

/** The Spark-internal doorways the engine needs, in one shim living in
  * a subpackage of `org.apache.spark.sql` (so `private[sql]`/
  * `private[spark]` members resolve): plans to and from DataFrames
  * (`ofRows`, `planOf`, the streaming/batch re-plans, `internalRdd`),
  * Catalyst expressions to and from Columns (`column`, `expression`),
  * and `sparkLocalDir` (`Utils` is `private[spark]`) so custom
  * operators spill where Spark's own external operators do.
  */
object PlanShim {
  /** A Catalyst expression as a DataFrame-API column, and back. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[CSpark], plan)

  /** The ANALYZED logical plan of a DataFrame — the inverse doorway of
    * [[ofRows]], for splicing an API-resolved read (e.g. a manifest
    * store's time-travel scan) into a parsed SQL statement's plan in
    * place of its unresolved relation.
    */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[Dataset[_]].queryExecution.analyzed

  /** Re-plan a batch DataFrame as a STREAMING one (`isStreaming=true`)
    * — what a V1 streaming `Source.getBatch` must return
    * (MicroBatchExecution asserts it). The batch plan's physical RDD
    * is wrapped via `internalCreateDataFrame` (`private[sql]`), the
    * same route Spark's own FileStreamSource and Delta's source take.
    * The RDD is lazy: nothing computes until the micro-batch runs.
    */
  def asStreaming(spark: SparkSession, df: DataFrame): DataFrame = {
    val qe = df.asInstanceOf[Dataset[_]].queryExecution
    spark.asInstanceOf[CSpark]
      .internalCreateDataFrame(qe.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse: re-plan a streaming micro-batch as a BATCH frame so
    * a V1 `Sink.addBatch` body can use batch-only APIs (`.write`) on
    * it — ForeachBatchSink's own wrapping, re-exported.
    */
  def asBatch(spark: SparkSession, df: DataFrame): DataFrame = {
    val qe = df.asInstanceOf[Dataset[_]].queryExecution
    spark.asInstanceOf[CSpark]
      .internalCreateDataFrame(qe.toRdd, df.schema, isStreaming = false)
  }

  /** A DataFrame's executed plan as its InternalRow RDD — for a
    * `BaseRelation` with `needConversion=false` (the zero-copy bridge
    * file-based relations use: rows flow through without an
    * external-Row conversion pass).
    */
  def internalRdd(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[Dataset[_]].queryExecution.toRdd

  /** A Spark-configured local scratch dir (`spark.local.dir` /
    * `SPARK_LOCAL_DIRS` — on YARN/K8s the container's own disks, exactly
    * where shuffle and hash-aggregate spills go), falling back to
    * `java.io.tmpdir` when no `SparkEnv` is live (plain unit code).
    */
  def sparkLocalDir(): java.io.File = {
    val env = org.apache.spark.SparkEnv.get
    val dir =
      if (env == null) System.getProperty("java.io.tmpdir")
      else org.apache.spark.util.Utils.getLocalDir(env.conf)
    new java.io.File(dir)
  }
}
