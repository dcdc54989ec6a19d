package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made the `Column` ↔ catalyst `Expression` bridge `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Extension libraries
  * that ship custom Catalyst expressions need exactly these two hops, so we
  * re-export them from inside the sql package — the conventional pattern
  * for Spark extension projects. Nothing else from the private API leaks. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Expose the current input file to `input_file_name()` from a custom
    * DSv2 PartitionReader — the builtin file sources set this holder per
    * split; it is `private[spark]`, so the one-line hop lives here. */
  def setInputFile(file: String): Unit =
    org.apache.spark.rdd.InputFileBlockHolder.set(file, 0, -1)

  /** Spark's file-source packing rule over whole (unsplittable) files:
    * `FilePartition.maxSplitBytes` sizes a read task from
    * `spark.sql.files.maxPartitionBytes`, `openCostInBytes` and
    * `minPartitionNum`, then `getFilePartitions` fills tasks Next Fit in
    * the order given, each file weighing its length plus the open cost.
    * Returns the file paths and lengths of each read task. */
  def packFiles(spark: org.apache.spark.sql.SparkSession,
                files: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Seq[(String, Long)]] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory, PartitionedFile}
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, files.toArray)))
    val whole = files.map(f => PartitionedFile(InternalRow.empty,
      org.apache.spark.paths.SparkPath.fromFileStatus(f), 0, f.getLen))
    FilePartition.getFilePartitions(spark, whole, maxSplit)
      .map(_.files.map(f => (f.filePath.toPath.toString, f.length)).toSeq)
  }

  /** Drain the async listener bus — `QueryExecutionListener` events post
    * asynchronously, so plan-counting specs must flush before asserting;
    * `SparkContext.listenerBus` is `private[spark]`, hence this hop. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Wrap a custom LogicalPlan as a DataFrame — `Dataset.ofRows` is
    * `private[sql]` in Spark 4; custom-operator libraries need this one
    * hop to hand their logical nodes back to the session. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
