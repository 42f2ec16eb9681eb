package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.types.StructType

/** Bridge into `SparkSession.internalCreateDataFrame` (private[sql]):
  * lets the fused backfill sweep run at the InternalRow layer —
  * UnsafeRow in, GenericInternalRow out — skipping the external
  * Row/encoder round-trip that round-1 profiling showed on the hottest
  * loop. This is the standard extension-point technique for libraries
  * that add physical operators on top of Spark (same access level a
  * custom SparkPlan would have); no Spark internals are modified.
  */
object GraftInternalAccess {

  /** Wrap an RDD[InternalRow] (already in the given schema's field
    * order and physical types) as a DataFrame without re-encoding.
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.internalCreateDataFrame(rdd, schema)

  /** A local DataFrame (`LocalRelation`) over driver-held rows in
    * `schema`'s field order: a collect returns them without a job.
    */
  def localCreateDataFrame(
      spark: SparkSession,
      rows: Seq[InternalRow],
      schema: StructType): DataFrame =
    classic.Dataset.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The analyzed plan's InternalRow RDD (post-shuffle, post-sort). */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd

  /** Wrap a catalyst Expression as a user-facing Column (the classic
    * helper is private[sql]) — used for the custom codegen kernels
    * (e.g. [[graft.ann.VecDot]]).
    */
  def exprColumn(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The catalyst Expression behind a Column (inverse of
    * [[exprColumn]]).
    */
  def columnExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Concurrent task slots of one executor JVM: N for `local[N]` and
    * `local[N,F]` (SparkContext's own parse of the master, private[spark]),
    * else executor cores over task cpus.
    */
  def taskSlots(sc: org.apache.spark.SparkContext): Int = {
    val conf = sc.getConf
    val cores =
      if (sc.isLocal) org.apache.spark.SparkContext.numDriverCores(sc.master, conf)
      else conf.getInt("spark.executor.cores", 1)
    math.max(1, cores / conf.getInt("spark.task.cpus", 1))
  }
}
