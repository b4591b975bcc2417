package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.Sessions

/** One benchmark run in one JVM: set-up (session start), then whole
  * passes of the workload until `--seconds` of measurement have
  * elapsed, then the untimed end-of-run observations. Writes its result as one JSON file; `perfbench/run.py`
  * checks it and prints the metrics.
  *
  *   Main --workload W --seconds N --trace 0|1 --inputs DIR --work DIR
  *        --out FILE --start_ms T --deadline_ms T [--entries a,b,c]
  *        [--verified FILE]
  */
object Main {

  /** Seconds since the process start in epoch milliseconds `ms`. */
  private def since(ms: String): Double =
    (System.currentTimeMillis() - ms.toLong) / 1e3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors).toString
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tr = new Tracer(false, spark, counters)

    val result = mutable.LinkedHashMap.empty[String, Any]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    try {
      val w: Workload = args("workload") match {
        case "fec_cycle" =>
          new FecWorkload(spark, tr, args("inputs"), work, replay = traced,
            deadlineMs = args("deadline_ms").toLong)
        case "catalog" =>
          new CatalogWorkload(spark, tr, args("inputs"), work,
            args("entries").split(",").toSeq, args.get("verified"))
        case other => throw new IllegalArgumentException(s"workload $other")
      }
      result("setup_s") = since(args("start_ms"))
      tr.enabled = traced
      val t0 = System.nanoTime()
      var p = 1
      do {
        tr.pass = p
        passes += w.pass(p)
        w.between()
        p += 1
      } while ((System.nanoTime() - t0) / 1e9 < seconds)
      result("passes") = passes.toSeq
      result("passes_end_s") = since(args("start_ms"))
      tr.enabled = false
      result("observations") = w.finish()
      result("finish_end_s") = since(args("start_ms"))
      if (traced) {
        val n = passes.size.toDouble
        result("layers") = w.layers(passes.size) ++
          tr.sparkTotals.map { case (k, v) => s"spark.$k" -> v / n }
        Files.writeString(Paths.get(s"$work/trace.json"), tr.toJson)
      }
    } catch {
      case e: Throwable =>
        result("error") = e.toString
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(args("out")), Json.obj(result.toSeq: _*))
      spark.stop()
    }
  }

}

/** A workload as the run loop sees it. A pass returns its timed parts
  * (`cold_s`, `warm_s`), its attempted and failed operations, and what
  * the checks need; failed operations are never timed. */
trait Workload {
  def pass(p: Int): Map[String, Any]
  /** Untimed clean-up between passes. */
  def between(): Unit
  /** Untimed end-of-run observations for the checks. */
  def finish(): Map[String, Any]
  /** Per-layer figures of the traced passes, averaged per pass. */
  def layers(nPasses: Int): Map[String, Double]
}
