package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Dev profiling main: run catalog queries steady-state and print, per
  * rep, the wall time and the per-job / per-stage breakdown — job and
  * stage counts, task counts, GC, CPU, shuffle bytes, Janino
  * compilations and JIT-compiler milliseconds — so "slow" decomposes
  * into scheduling floor vs shuffle vs compute vs compiling before
  * anything is changed. Job, stage and task counts do not depend on the
  * host; they are the signal to compare across changes when wall times
  * are noisy. Each stage row is labelled with the first `graft.` frame
  * of its call site, or of its SQL execution's call site for a stage
  * AQE submitted; `(drain)` marks the drained output's stages.
  *
  * The whole list warms twice first (codegen + memoized artifacts, so
  * shared memos are attributed as in Bench's steady-state loop), then
  * each query runs `reps` times in list order. Every run drains the
  * query's full output through `df.queryExecution.toRdd`, so the timed
  * work includes every output column (a `count()` would run its own
  * aggregate plan, which prunes the columns it does not need). With a
  * plan directory, the last rep's `explain("formatted")` is written to
  * `<planDir>/<name><suffix>.txt` — the
  * `plans/rNN/<name>_before|_after.txt` evidence convention. It is the
  * plan of the drained DataFrame itself, so it is AQE's final plan
  * (`isFinalPlan=true`) over warm memoized artifacts.
  *
  * Usage: `runMain graft.Profile <sfDir> <n1,n2,...> [reps] [planDir suffix]`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(',').toSeq)
    val reps = if (args.length > 2) args(2).toInt else 1
    val planOut = if (args.length > 3) Some((args(3), args(4))) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val jit = ManagementFactory.getCompilationMXBean

    final case class StageRow(id: Int, label: String, nTasks: Int,
        runMs: Long, cpuMs: Long, gcMs: Long, shufReadB: Long,
        shufWriteB: Long)
    // Under AQE a stage is submitted from a pool thread, so its name and
    // call site never show the operator; its SQL execution's call site
    // (captured on the caller's thread) does.
    def graftFrame(stack: String): Option[String] =
      stack.linesIterator.map(_.trim)
        .find(l => l.startsWith("graft.") && !l.startsWith("graft.Profile"))
    val executionSite = mutable.Map[Long, String]()
    val stageExecution = mutable.Map[Int, Long]()
    val jobStart = mutable.Map[Int, Long]()
    val jobRows = mutable.ArrayBuffer[(Int, Long)]() // id, wall ms
    val stageRows = mutable.ArrayBuffer[StageRow]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          graftFrame(x.details).foreach(executionSite(x.executionId) = _)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = e.time
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobRows += ((e.jobId, e.time - jobStart.getOrElse(e.jobId, e.time)))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => stageExecution(e.stageInfo.stageId) = x.toLong)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        // the drained output runs outside any SQL execution
        val label = graftFrame(si.details)
          .orElse(stageExecution.get(si.stageId).flatMap(executionSite.get))
          .getOrElse("(drain)")
        stageRows += StageRow(si.stageId, label.take(100), si.numTasks,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.jvmGCTime,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)
      }
    }

    def drain(df: org.apache.spark.sql.DataFrame): Unit =
      df.queryExecution.toRdd.foreach(_ => ())
    names.foreach(n => drain(SparkEntry.queries(n)(spark, sfDir)))
    names.foreach(n => drain(SparkEntry.queries(n)(spark, sfDir)))
    spark.sparkContext.addSparkListener(listener)
    planOut.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to reps).map { i =>
        jobStart.clear(); jobRows.clear(); stageRows.clear()
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val jit0 = jit.getTotalCompilationTime
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        drain(df)
        val wall = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        val jitMs = jit.getTotalCompilationTime - jit0
        Thread.sleep(500) // let the async listener bus drain
        val jobsMs = jobRows.map(_._2).sum
        println(f"[prof] $name rep$i wall=$wall%.3f s jobs=${jobRows.size} " +
          f"jobWallSum=${jobsMs / 1000.0}%.3f s stages=${stageRows.size} " +
          f"tasks=${stageRows.map(_.nTasks).sum} " +
          f"gcSum=${stageRows.map(_.gcMs).sum} ms janino=$compiles jitMs=$jitMs")
        stageRows.sortBy(-_.runMs).take(12).foreach { r =>
          println(f"[prof]   stage ${r.id}%4d ${r.runMs}%6d ms " +
            f"cpu=${r.cpuMs}%6d gc=${r.gcMs}%5d tasks=${r.nTasks}%4d " +
            f"shufR=${r.shufReadB}%9d shufW=${r.shufWriteB}%9d  ${r.label}")
        }
        df
      }
      for ((dir, suffix) <- planOut; df <- runs.lastOption) {
        val path = Paths.get(dir, s"$name$suffix.txt")
        Files.write(path, (s"-- $name @ $sfDir (cpus=$cpus)\n" +
          df.queryExecution.explainString(ExplainMode.fromString("formatted")))
          .getBytes("UTF-8"))
        println(s"[prof] wrote $path")
      }
    }
    spark.stop()
  }
}
