package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** The `private[sql]`/`private[spark]` members the engine needs:
  * wrapping a hand-built LogicalPlan (graft.plans.AsOfJoinPlan) back into
  * the public DataFrame API, and the nullable form of a schema. Standard
  * extension-library practice — everything else in the engine stays on
  * public Spark APIs.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `schema` with every field, element and value nullable — the schema a
    * file read of data written with `schema` reports. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
