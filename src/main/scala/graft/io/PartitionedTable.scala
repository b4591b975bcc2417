package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cycle-partitioned table layout (SURVEY §4: "model election cycle as
  * a partition column → Catalyst partition pruning").
  *
  * The reference hard-codes the cycle into table names (`*22`); here a
  * table holds all cycles partitioned by a `cycle` column, so a query
  * for one cycle reads only that directory (PartitionFilters in the
  * scan, zero I/O for other cycles) and new cycles append without
  * touching old data — the property that matters when each cycle is
  * tens of TB.
  */
object PartitionedTable {

  /** Write `df` partitioned by `partitionCol` (dynamic overwrite: only
    * the partitions present in `df` are replaced). The overwrite mode is
    * a per-write option; the session conf is left as it is. */
  def write(df: DataFrame, dir: String, partitionCol: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(dir)

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Read one partition; Catalyst prunes to the single directory. */
  def readPartition(spark: SparkSession, dir: String, partitionCol: String,
      value: Any): DataFrame =
    read(spark, dir).filter(col(partitionCol) === lit(value))
}
