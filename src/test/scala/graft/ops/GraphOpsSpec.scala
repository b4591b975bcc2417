package graft.ops

import graft.SparkFunSuite
import java.nio.file.Files
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Semantic properties of graph_pagerank on a hand-checkable star
  * graph (the catalog row proves engine-vs-oracle agreement; this
  * proves the algorithm means what it claims). */
class GraphOpsSpec extends SparkFunSuite {
  import spark.implicits._

  // c1—s1, c2—s1: two customers each buying from the one supplier
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graphops").toString
    Seq((1L, 1L), (2L, 2L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$d/orders.parquet")
    Seq((1L, 1L), (2L, 1L))
      .toDF("l_orderkey", "l_suppkey").write.parquet(s"$d/lineitem.parquet")
    d
  }

  test("pagerank on the star: hub ranks highest, leaves tie, mass conserved") {
    val out = GraphOps.graphPagerank(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set("c1", "c2", "s1"))
    // leaves are symmetric → identical rank (bitwise: same plan subtree)
    assert(out("c1") == out("c2"))
    assert(out("s1") > out("c1"))
    // symmetric edges → no dangling mass: ranks sum to 1 up to FP
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
    // replay the recurrence exactly (damping .85, 5 iters, N=3):
    // hub receives both leaves' full rank, each leaf half the hub's
    var (hub, leaf) = (1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 5) {
      val h2 = 0.15 / 3 + 0.85 * (leaf + leaf)
      val l2 = 0.15 / 3 + 0.85 * (hub / 2)
      hub = h2; leaf = l2
    }
    assert(math.abs(out("s1") - hub) < 1e-12)
    assert(math.abs(out("c1") - leaf) < 1e-12)
  }

  test("graph_paths BFS on the star: c1 at 0, hub s1 at 1, c2 at 2") {
    val got = GraphOps.graphPaths(spark, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // c1 -> s1 -> c2; nothing is re-reached at a longer distance
    assert(got == Map("c1" -> 0, "s1" -> 1, "c2" -> 2))
  }

  test("graph_cooccur computes exact shared-customer jaccard, absent pairs stay absent") {
    val d = Files.createTempDirectory("cooccur").toString
    // c1:{10,20} c2:{10,20} c3:{10,30} → deg 10=3, 20=2, 30=1
    Seq((1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$d/orders.parquet")
    Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L), (3L, 10L), (3L, 30L))
      .toDF("l_orderkey", "l_suppkey").write.parquet(s"$d/lineitem.parquet")
    val got = GraphOps.graphCooccur(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // (10,20): co 2, jac 2/(3+2-2); (10,30): co 1, jac 1/(3+1-1);
    // (20,30) share no customer → no row at all (not a zero row)
    assert(got == Map((10L, 20L) -> ((2L, 2.0 / 3)),
      (10L, 30L) -> ((1L, 1.0 / 3))))
  }

  test("maxDegree hub cap: capped postings keep the smallest supplier ids") {
    val d = Files.createTempDirectory("hubcap").toString
    // one hub customer with 10 suppliers; one small customer with 2
    Seq((1L, 1L), (2L, 2L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$d/orders.parquet")
    ((1 to 10).map(i => (1L, i.toLong)) ++ Seq((2L, 3L), (2L, 17L)))
      .toDF("l_orderkey", "l_suppkey").write.parquet(s"$d/lineitem.parquet")
    try {
      spark.conf.set("spark.graft.graph.maxDegree", "3")
      val got = GraphOps.graphCooccur(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      // hub contributes only C(3,2)=3 pairs over its SMALLEST ids
      // {1,2,3} (deterministic cap), never e.g. (4,5); the small
      // customer keeps (3,7) untouched
      assert(got.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 17L)))
      // degrees stay EXACT under the cap (jaccard denominators use the
      // uncapped degree table): deg(3)=2 ⇒ jac(3,17)=1/(2+1-1)
      assert(got((3L, 17L)) === 0.5)
      // linkpred rides the same capped posting: hub weight 1/ln(3)
      val aa = GraphOps.graphLinkpred(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      assert(aa((1L, 2L)) ===
        BigDecimal(1.0 / math.log(3.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    } finally spark.conf.unset("spark.graft.graph.maxDegree")
    // uncapped default: the hub's full 10-supplier posting returns
    val cs = ((1 to 10).map(i => (1L, i.toLong)) ++ Seq((2L, 3L), (2L, 17L)))
      .toDF("c", "sk")
    val sizes = GraphOps.custPostings(spark, cs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).length).toMap
    assert(sizes === Map(1L -> 10, 2L -> 2))
  }

  test("graph_paths emits the seed even when it has no edges") {
    val d = Files.createTempDirectory("graphpaths").toString
    // graph contains only c7—s7: the seed c1 is absent entirely
    Seq((1L, 7L)).toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$d/orders.parquet")
    Seq((1L, 7L)).toDF("l_orderkey", "l_suppkey")
      .write.parquet(s"$d/lineitem.parquet")
    val got = GraphOps.graphPaths(spark, d).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("c1" -> 0))
  }

  test("graph_cc splits components, honors the quantity gate, labels by min id") {
    val d = Files.createTempDirectory("graphcc").toString
    // bulk edges: c1—s1, c2—s1 | c3—s2.  A low-quantity c1—s2 edge
    // (q=10) would merge the components — it must be filtered out.
    Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 1L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$d/orders.parquet")
    Seq((1L, 1L, 50.0, 0.10), (2L, 1L, 50.0, 0.10), (3L, 2L, 50.0, 0.10),
      (4L, 2L, 10.0, 0.10))
      .toDF("l_orderkey", "l_suppkey", "l_quantity", "l_discount")
      .write.parquet(s"$d/lineitem.parquet")
    val got = GraphOps.graphComponents(spark, d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map("c1" -> ((3L, 2L, 1L)), "c3" -> ((2L, 1L, 1L))))
  }

  test("graph_cc converges past one propagation hop (diameter-6 path)") {
    val d = Files.createTempDirectory("graphccpath").toString
    // path c1—s1—c2—s2—c3—s3—c4: min label must travel 6 hops
    Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 3L), (5L, 3L), (6L, 4L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$d/orders.parquet")
    Seq((1L, 1L, 50.0, 0.10), (2L, 1L, 50.0, 0.10), (3L, 2L, 50.0, 0.10),
      (4L, 2L, 50.0, 0.10), (5L, 3L, 50.0, 0.10), (6L, 3L, 50.0, 0.10))
      .toDF("l_orderkey", "l_suppkey", "l_quantity", "l_discount")
      .write.parquet(s"$d/lineitem.parquet")
    val got = GraphOps.graphComponents(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("c1" -> 7L))
  }

  test("graph_triangles: one closed triple, pendant edges and weak pairs excluded") {
    val d = Files.createTempDirectory("graphtri").toString
    // customers c1,c2 each bulk-buy from suppliers {1,2,3} → pairs
    // (1,2),(1,3),(2,3) all share 2 customers → triangle. c3 buys
    // {1,4} and c4 buys {1,4} → edge (1,4) with co=2 but no closing
    // edges. c5 buys {2,5}: pair (2,5) has co=1 → filtered out.
    // c1 also buys from 4 — but below the bulk gate (q=10), so the
    // (1,4)/(2,4)/(3,4) edges that would close more triangles never
    // form.
    Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (5L, 5L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$d/orders.parquet")
    Seq((1L, 1L, 50.0), (1L, 2L, 50.0), (1L, 3L, 50.0), (1L, 4L, 10.0),
      (2L, 1L, 50.0), (2L, 2L, 50.0), (2L, 3L, 50.0),
      (3L, 1L, 50.0), (3L, 4L, 50.0), (4L, 1L, 50.0), (4L, 4L, 50.0),
      (5L, 2L, 50.0), (5L, 5L, 50.0))
      .toDF("l_orderkey", "l_suppkey", "l_quantity")
      .write.parquet(s"$d/lineitem.parquet")
    val got = GraphOps.graphTriangles(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("graph_triangles counts every triangle of a 4-clique once per corner") {
    val d = Files.createTempDirectory("graphtri4").toString
    // two customers each bulk-buy from all of {1,2,3,4} → 4-clique
    // with co=2 on every pair; C(3,2)=3 triangles per corner, 4 total
    Seq((1L, 1L), (2L, 2L))
      .toDF("o_orderkey", "o_custkey").write.parquet(s"$d/orders.parquet")
    Seq((1L, 1L, 50.0), (1L, 2L, 50.0), (1L, 3L, 50.0), (1L, 4L, 50.0),
      (2L, 1L, 50.0), (2L, 2L, 50.0), (2L, 3L, 50.0), (2L, 4L, 50.0))
      .toDF("l_orderkey", "l_suppkey", "l_quantity")
      .write.parquet(s"$d/lineitem.parquet")
    val got = GraphOps.graphTriangles(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("SessionCache.evictAll releases every block the graph index pinned") {
    GraphOps.queries.values.foreach(q => q(spark, sfDir).collect())
    val arts = GraphOps.indexArtifacts(spark, sfDir)
    val leaves = arts.flatMap(_.queryExecution.logical.collect {
      case l: LogicalRDD => l.rdd.id
    })
    // every artifact is built: 8 persisted frames, 8 checkpointed ones
    assert(arts.size == 16)
    assert(arts.count(_.storageLevel != StorageLevel.NONE) == 8)
    assert(leaves.toSet.subsetOf(spark.sparkContext.getPersistentRDDs.keySet))
    graft.SessionCache.evictAll()
    assert(arts.forall(_.storageLevel == StorageLevel.NONE),
      "an artifact frame is still in the cache manager")
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(leaves.nonEmpty && !leaves.exists(live.contains),
      "an RDD under an artifact's LogicalRDD leaf is still persisted")
  }

  test("degree distribution of the star: two degree-1 customers, one degree-2 hub") {
    val got = GraphOps.graphDegree(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(("c", 1L) -> 2L, ("s", 2L) -> 1L))
  }
}
