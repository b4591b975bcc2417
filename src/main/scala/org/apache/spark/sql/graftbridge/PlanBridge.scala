// The one file in this codebase that lives inside Spark's package
// namespace: `Dataset.ofRows` (LogicalPlan → DataFrame) is
// `private[sql]`, and a custom whole-operator plan
// (graft.plans.AsofJoinPlan) needs it to hand its logical node to the
// session; `StructType.merge` is `private[sql]`, and the bucketed
// stores (graft.io.BucketedParquet) merge footer schemas with it
// exactly as a `mergeSchema` read does. One forwarding def per call
// keeps the package-private surface area to those two calls — the
// standard pattern for Spark-native libraries shipping their own
// operators.
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.StructType

object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  def mergeSchemas(a: StructType, b: StructType): StructType = a.merge(b)
}
