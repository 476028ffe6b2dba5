package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.types.StructType

/** `Dataset.ofRows` (logical plan → DataFrame) is private[sql]; the SQL
  * DML commands need it to turn the already-analyzed source plan of a
  * `MERGE INTO ... USING <query>` back into a DataFrame for the engine's
  * merge machinery. Same shim pattern as [[StreamingBridge]] — one
  * conversion re-exported, no internals copied or altered.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** `StructType.asNullable` (private[spark]): every field nullable, as
    * a path-based file read makes its user-specified schema — the
    * commit-log scan ([[graft.lake.LogFileIndex]]) builds the same
    * relation without the path read. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
