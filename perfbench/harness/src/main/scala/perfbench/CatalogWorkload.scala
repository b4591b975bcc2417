package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SessionCache, SparkEntry}

/** The `catalog` workload: each entry of the list runs cold (every
  * `SessionCache` memo evicted and every persisted RDD unpersisted,
  * blocking, beforehand) and then warm (its memos in place). Every run
  * drains the entry's full output and keeps a digest of it; an entry
  * that throws is counted as failed and is not timed. Entries whose digest has not been checked against the oracle
  * yet have their output written once, untimed, at the end of the run,
  * for `checks.py` to compare. */
final class CatalogWorkload(spark: SparkSession, tr: Tracer, data: String,
    work: String, entries: Seq[String], verified: Option[String])
    extends Workload {

  /** Warm runs per entry; a warm run takes well under a second, so the
    * entry's warm figures are those of its median run. */
  private val warmRuns = 3

  private val digests = mutable.Map.empty[String, mutable.Set[String]]
  private val rows = mutable.Map.empty[Int, Double]
  private val memo = mutable.Map("memo.persisted_rdds" -> 0.0, "memo.bytes" -> 0.0)

  /** Construction, planning and drain of one entry, each a span. */
  private def runEntry(p: Int, part: String, name: String): Drain.Digest = {
    val module = CatalogWorkload.moduleOf(name)
    val fn = SparkEntry.queries(name)
    val df: DataFrame = tr.span(s"$part.build", module, name) { fn(spark, data) }
    if (tr.enabled)
      tr.span(s"$part.plan", module, name) { df.queryExecution.executedPlan }
    tr.span(s"$part.exec", module, name) { Drain(df) }
  }

  private def evict(): Unit = {
    SessionCache.evictAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Each entry runs once cold and then `warmRuns` times warm. */
  def pass(p: Int): Map[String, Any] = {
    var cold = Clock.zero; var warm = Clock.zero; var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val perEntry = mutable.LinkedHashMap.empty[String, Any]
    entries.foreach { name =>
      val runs = ("cold" +: Seq.fill(warmRuns)("warm")).map { part =>
        if (part == "cold") evict()
        tr.op = s"$name $part"
        val t0 = Clock.now()
        try {
          val d = runEntry(p, part, name)
          val s = Clock.since(t0)
          digests.getOrElseUpdate(name, mutable.Set.empty) += d.toString
          if (part == "cold") rows(p) = rows.getOrElse(p, 0.0) + d.rows
          (part, Some(s), d.toString)
        } catch {
          case e: Throwable =>
            failed += 1
            errors += s"$name ($part): $e"
            (part, None, e.toString)
        }
      }
      if (tr.enabled) {
        // the memos the warm run used, before the next entry's cold run
        // evicts them
        val infos = spark.sparkContext.getRDDStorageInfo
        memo("memo.persisted_rdds") += infos.count(_.numCachedPartitions > 0)
        memo("memo.bytes") += infos.map(i => i.memSize + i.diskSize).sum
      }
      val coldS = runs.head._2
      val warmRunsS = runs.tail.flatMap(_._2)
      coldS.foreach(cold += _)
      val warmMed = warmRunsS.sortBy(_.cpuS).lift(warmRunsS.size / 2)
      warmMed.foreach(warm += _)
      perEntry(name) = Map("cold_s" -> coldS.map(_.wallS),
        "cold_cpu_s" -> coldS.map(_.cpuS), "warm_s" -> warmMed.map(_.wallS),
        "warm_cpu_s" -> warmMed.map(_.cpuS),
        "digests" -> runs.filter(_._2.isDefined).map(_._3))
    }
    Map("cold_s" -> cold.wallS, "warm_s" -> warm.wallS,
      "cold_cpu_s" -> cold.cpuS, "warm_cpu_s" -> warm.cpuS,
      "steal_pct" -> (cold + warm).stealPct,
      "attempted" -> (1 + warmRuns) * entries.size, "failed" -> failed,
      "errors" -> errors.toSeq, "entries" -> perEntry.toMap)
  }

  def between(): Unit = ()

  /** Writes the output of every entry whose digests are not all known
    * to have matched the oracle, for `checks.py` to compare. */
  def finish(): Map[String, Any] = {
    val known: Set[String] = verified.filter(f => Files.exists(Paths.get(f)))
      .map(f => Files.readAllLines(Paths.get(f)).toArray.map(_.toString).toSet)
      .getOrElse(Set.empty)
    val toWrite = entries.filter(n =>
      digests.get(n).exists(_.exists(d => !known.contains(s"$n $d"))))
    // the digest of the written output, read back, ties the oracle
    // comparison to the output that was timed
    val written = toWrite.flatMap { n =>
      val path = s"$work/out/$n"
      try {
        SparkEntry.queries(n)(spark, data).coalesce(1).write
          .mode("overwrite").parquet(path)
        Some(n -> Drain(spark.read.parquet(path)).toString)
      } catch { case e: Throwable => System.err.println(s"write $n: $e"); None }
    }
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json.obj(
      entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)): _*))
    Map("digests" -> digests.map { case (k, v) => k -> v.toSeq.sorted }.toMap,
      "written" -> toWrite, "written_digests" -> written.toMap)
  }

  def layers(nPasses: Int): Map[String, Double] = {
    CatalogWorkload.phaseLayers(tr, nPasses) ++
      memo.map { case (k, v) => k -> v / nPasses } ++ Map(
      "pass.rows" -> rows.filter(_._1 > 0).values.sum / nPasses)
  }
}

object CatalogWorkload {

  private lazy val owners: Map[String, String] = Seq(
    "ops.GraphOps" -> graft.ops.GraphOps.queries,
    "ops.Profiling" -> graft.ops.Profiling.queries,
    "ops.TextOps" -> graft.ops.TextOps.queries,
    "ops.DedupOps" -> graft.ops.DedupOps.queries,
    "ops.StatsOps" -> graft.ops.StatsOps.queries,
    "ops.CoreRelational" -> graft.ops.CoreRelational.queries)
    .flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap

  def moduleOf(entry: String): String = owners.getOrElse(entry, "ops.other")

  /** Build, plan and exec seconds and build-time jobs of the cold and
    * warm parts, averaged over the traced passes, and each module's
    * share of their time. */
  def phaseLayers(tr: Tracer, nPasses: Int): Map[String, Double] = {
    val passes = 1 to nPasses
    def avg(f: Int => Map[String, Double], k: String) =
      passes.map(f(_).getOrElse(k, 0.0)).sum / nPasses
    val phases = for (part <- Seq("cold", "warm");
        ph <- Seq("build", "plan", "exec"))
      yield s"$part.${ph}_s" -> avg(tr.phaseSeconds, s"$part.$ph")
    val jobs = Seq("cold", "warm").map(part =>
      s"$part.build_jobs" -> avg(tr.phaseJobs, s"$part.build"))
    val mods = passes.map(tr.moduleSeconds)
    val total = mods.map(_.values.sum).sum
    val shares = mods.flatMap(_.keys).distinct.map(m => s"share.$m" ->
      (if (total > 0) 100.0 * mods.map(_.getOrElse(m, 0.0)).sum / total
       else 0.0))
    (phases ++ jobs ++ shares).toMap
  }
}
