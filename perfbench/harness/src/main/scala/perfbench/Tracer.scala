package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Spans recorded from outside graft, around each call into one of its
  * public functions. Spans are kept in memory and written out when the
  * run ends. With tracing off every call is a plain pass-through, so
  * untraced passes time the same calls without the bookkeeping. */
final class Tracer(var enabled: Boolean, spark: SparkSession,
    counters: SparkCounters) {

  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  /** The pass and the operation (a load, a delta, one run of an entry)
    * the next spans belong to. */
  var pass = 0
  var op = ""

  /** Spark counters and JVM collection time summed over all spans: the
    * timed work only, never the checks between it. */
  val sparkTotals = mutable.LinkedHashMap.empty[String, Double]

  /** Times `f` as a span of `module` in `phase` (`cold.build`,
    * `warm.exec`, ...); a span's jobs are the Spark jobs started while it
    * was open. */
  def span[T](phase: String, module: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val c0 = snapshot()
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        val c1 = snapshot()
        spans += Span(spans.size, pass, op, phase, module, name, t0, t1,
          (c1("jobs") - c0("jobs")).toLong)
        c1.foreach { case (k, v) =>
          sparkTotals(k) = sparkTotals.getOrElse(k, 0.0) + v - c0(k)
        }
      }
    }

  private def snapshot(): Map[String, Double] = {
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    counters.snapshot.toMap + ("gc_s" -> gcSeconds())
  }

  /** Collection time of every collector in this JVM: driver and
    * executor share it in local mode. */
  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  private def sum[K](pass: Int, key: Span => K, v: Span => Double) =
    spans.filter(_.pass == pass).groupBy(key)
      .map { case (k, ss) => k -> ss.map(v).sum }

  def phaseSeconds(pass: Int): Map[String, Double] =
    sum(pass, _.phase, _.seconds)
  def phaseJobs(pass: Int): Map[String, Double] =
    sum(pass, _.phase, _.jobs.toDouble)
  def moduleSeconds(pass: Int): Map[String, Double] =
    sum(pass, _.module, _.seconds)

  def toJson: String = spans.map { s =>
    Json.obj("id" -> s.id, "pass" -> s.pass, "op" -> s.op,
      "phase" -> s.phase, "module" -> s.module, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> s.jobs)
  }.mkString("[", ",\n", "]")
}

object Tracer {
  final case class Span(id: Int, pass: Int, op: String, phase: String,
      module: String, name: String, startNs: Long, endNs: Long, jobs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}
