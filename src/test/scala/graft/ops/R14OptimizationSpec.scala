package graft.ops

import graft.SparkFunSuite
import org.apache.spark.sql.functions._

/** Focused coverage for the round-14 optimization changes: a23's
  * row-count-bounded refinement path (forced via the conf knob), the
  * SessionCache cold-path eviction (rebuild reproduces bit-for-bit),
  * the memoized table schemas / spread split counts (identical
  * DataFrames, identical spread decision), graph_hits' fused
  * max-normalize (second call reproduces the first), and
  * funnel_stream_eq's scoped state width (conf restored, ledger
  * booleans still pinned). */
class R14OptimizationSpec extends SparkFunSuite {

  test("a23: refinement path (tiny bucket-row cap) equals percentile()") {
    // force EVERY multi-valued bucket through the recursive re-bucket
    // and the segment-tagged window fallback
    spark.conf.set("spark.graft.a23.maxBucketRows", "2")
    try {
      val exact = LayoutOlap.a23ApproxQuantile(spark, sfDir)
        .collect()
        .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
        .toMap
      val ref = graft.Tables.lineitem(spark, sfDir).agg(
        expr("percentile(l_quantity, array(0.5, 0.9))").as("q"),
        expr("percentile(l_extendedprice, array(0.5, 0.9))").as("e"))
        .collect().head
      val (q, e) = (ref.getSeq[Double](0), ref.getSeq[Double](1))
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(exact(("l_quantity", 0.5)) === r4(q(0)))
      assert(exact(("l_quantity", 0.9)) === r4(q(1)))
      assert(exact(("l_extendedprice", 0.5)) === r4(e(0)))
      assert(exact(("l_extendedprice", 0.9)) === r4(e(1)))
    } finally spark.conf.unset("spark.graft.a23.maxBucketRows")
  }

  test("SessionCache.evictAll: memoized artifacts rebuild identically") {
    val a = GraphOps.graphComponents(spark, sfDir).collect().toSeq
    graft.SessionCache.evictAll()
    val b = GraphOps.graphComponents(spark, sfDir).collect().toSeq
    assert(a.nonEmpty && a.map(_.toString) === b.map(_.toString))
  }

  test("Tables.load: memoized schema read equals a fresh inferring read") {
    val cached = graft.Tables.lineitem(spark, sfDir)
    val fresh = spark.read.parquet(s"$sfDir/lineitem.parquet")
    assert(cached.schema === fresh.schema)
    assert(cached.count() === fresh.count())
  }

  test("Tables.spread: cached split decision still widens a narrow scan") {
    val docs = graft.Tables.documents(spark, sfDir)
    val target = spark.sparkContext.defaultParallelism
    val once = graft.Tables.spread(docs)
    val twice = graft.Tables.spread(docs.select(col("doc_id"))) // cache hit
    assert(once.rdd.getNumPartitions >= math.min(target,
      docs.rdd.getNumPartitions))
    // the decision must match the uncached ground truth
    val raw = docs.rdd.getNumPartitions
    if (raw < target) {
      assert(once.rdd.getNumPartitions === target)
      assert(twice.rdd.getNumPartitions === target)
    } else {
      assert(once.rdd.getNumPartitions === raw)
    }
  }

  test("graph_hits: fused max-normalize reproduces across calls") {
    val a = GraphOps.graphHits(spark, sfDir).collect().toSeq
    val b = GraphOps.graphHits(spark, sfDir).collect().toSeq
    assert(a.nonEmpty && a.map(_.toString) === b.map(_.toString))
  }

  test("funnel_stream_eq: scoped state width, ledger pinned, conf restored") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val row = StreamOps.funnelStreamEq(spark, sfDir).collect().head
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    assert(row.getBoolean(4) && row.getBoolean(5)) // keepers + copies
    assert(row.getLong(1) === row.getLong(3)) // n_unique == stream_rows
  }
}
