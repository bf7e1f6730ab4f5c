package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** Bridge to the `private[sql]` `classic.Dataset.ofRows`, for the same
  * reason as [[ColumnBridge]]: a DataFrame over rows that are already on
  * the driver, planned as a `LocalRelation`. Its `collect()` is
  * `LocalTableScanExec.executeCollect`, which launches no job. */
object LocalFrame {
  def apply(spark: SparkSession, output: Seq[Attribute], rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], LocalRelation(output, rows))
}
