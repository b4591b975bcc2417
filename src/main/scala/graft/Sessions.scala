package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session builder every main shares, so the
  * correctness gate (Verify) runs the same confs the bench measures.
  *
  * Scan-split sizing: `spark.sql.files.openCostInBytes` is 128 KB
  * instead of Spark's 4 MB default. A 4 MB open cost floors the max
  * split size at 4 MB, so a small single-file table scans too narrowly
  * (an 11 MB table scans 3-wide whatever the core count). With
  * production-sized files (128 MB–1 GB) `maxPartitionBytes` governs
  * the splits and the lowered open cost is inert.
  *
  * Generated-code cache: `spark.sql.codegen.cache.maxEntries` is
  * [[codegenCacheEntries]] instead of Spark's 100. Applying one
  * late-data batch (108 lines) to the FEC stores asks for about 300
  * generated classes, so with 100 entries every batch evicted the
  * classes the next one needs: a batch applied after an identical one
  * still ran 304 Janino compilations. With 1000 entries it runs none.
  * Spark reads the size once, when the JVM generates its first class,
  * so it holds only when this builder makes the JVM's first session.
  */
object Sessions {

  val openCost: String = "131072"

  val codegenCacheEntries: String = "1000"

  /** Standard local session for the graft mains: `local[cpus]` master,
    * shuffle width = cpus, AQE on, UTC, UI off, shared scan-split
    * sizing. `cpus` comes from `SPARK_GRAFT_CPUS` at every call site
    * (the driver also benches at a lower core count — the master must
    * follow the env var, never a constant). */
  def local(cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.openCostInBytes", openCost)
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries)
      .getOrCreate()
    s
  }
}
