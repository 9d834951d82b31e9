package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{DirectShufflePartitionID, Expression}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression

/** Bridge into Spark 4.x's `private[sql]` Column↔Expression conversion
  * (the public `new Column(Expression)` constructor was removed in the
  * Spark Connect refactor; classic sessions expose
  * `org.apache.spark.sql.classic.ExpressionUtils`).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The session's shuffle partition count — the partition count of a
    * repartition built now without a fixed count.
    */
  def numShufflePartitions(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.numShufflePartitions

  /** Shuffle each row of `df` to the partition `id(column c)` computes,
    * an int (`DirectShufflePartitionID`). Built with no fixed partition
    * count, so the exchange has the REPARTITION_BY_COL origin that AQE
    * coalesces (`Dataset.repartitionById(n, ...)` is REPARTITION_BY_NUM,
    * which it never coalesces). `id` receives `c` as the analyzed output
    * attribute: a column left unresolved inside
    * `DirectShufflePartitionID` plans as a null id and sends every row to
    * one partition.
    */
  def repartitionByPartitionId(df: DataFrame, c: String)(
      id: Column => Column): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val plan = ds.logicalPlan
    val attr = plan.output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"no column $c"))
    classic.Dataset.ofRows(ds.sparkSession, RepartitionByExpression(
      Seq(DirectShufflePartitionID(expression(id(column(attr))))), plan, None))
  }

  /** The Spark data schema of one Parquet footer, as
    * `ParquetFileFormat.mergeSchemasInParallel` derives it for that
    * file: the converter takes the same five session flags, and the
    * Spark row-metadata key, when present, wins over the Parquet schema.
    * Runs on the caller's thread; no Spark job.
    */
  def parquetSchemaFromFooter(spark: SparkSession,
      footer: org.apache.parquet.hadoop.Footer): types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(footer, converter)
  }
}

/** Bridge into `private[spark]` scheduler internals used by the
  * measurement tools (graft.tools.SkewCurve): the listener bus drains
  * asynchronously, so per-task metrics read right after an action must
  * wait for delivery.
  */
object GraftListenerBridge {
  def waitUntilListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
