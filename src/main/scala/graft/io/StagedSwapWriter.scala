package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardCopyOption}
import BucketedParquet.deleteTree

/** S6: truncate-load with archive and row-count rollback
  * (`federal_fec_ingest_import_bigquery/main.py:367-403`).
  *
  * Write the new data to a staging directory, compare row counts with
  * the current table, and only swap the new data in when
  * `newCount >= oldCount` — otherwise keep the old table ("roll back").
  * The swap is a directory rename (atomic on a posix filesystem; on a
  * real deployment this maps to a metastore pointer swap / table-format
  * commit, which is the same idea one level up).
  */
object StagedSwapWriter {

  final case class Result(swapped: Boolean, oldCount: Long, newCount: Long)

  /** Truncate-load `df` into `tableDir` with the rowcount gate. */
  def truncateLoad(spark: SparkSession, df: DataFrame,
      tableDir: String): Result = {
    val table = Paths.get(tableDir)
    val staging = Paths.get(tableDir + ".staging")
    val archive = Paths.get(tableDir + ".old")
    deleteTree(staging)
    df.write.mode("overwrite").parquet(staging.toString)
    val newCount = spark.read.parquet(staging.toString).count()
    val oldCount =
      if (Files.exists(table)) spark.read.parquet(table.toString).count()
      else -1L
    if (oldCount >= 0 && newCount < oldCount) {
      deleteTree(staging) // validation failed: keep the old table
      Result(swapped = false, oldCount, newCount)
    } else {
      deleteTree(archive)
      if (Files.exists(table))
        Files.move(table, archive, StandardCopyOption.ATOMIC_MOVE)
      Files.move(staging, table, StandardCopyOption.ATOMIC_MOVE)
      deleteTree(archive)
      Result(swapped = true, math.max(oldCount, 0L), newCount)
    }
  }
}
