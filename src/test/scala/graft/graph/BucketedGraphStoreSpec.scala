package graft.graph

import graft.SparkFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** K3 at scale: the graph store hash-buckets each label table by its
  * identity key; a merge batch rewrites ONLY the buckets it touches and
  * a tombstone batch only the buckets that lose a row. */
class BucketedGraphStoreSpec extends SparkFunSuite {
  import spark.implicits._

  /** (relative path → (size, mtime, first+last bytes)) for every file
    * under dir — enough to prove byte-identity without hashing GBs. */
  private def snapshot(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map { p: Path =>
        root.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
  }

  private def bucketDirs(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet

  test("1-row vertex merge rewrites exactly one bucket; others byte-identical") {
    val d = Files.createTempDirectory("bstore").toString
    val store = new GraphStore(spark, d, numBuckets = 8)
    val base = (1 to 200).map(i => (s"k$i", i)).toDF("k", "v")
    store.mergeVertices("Node", Seq("k"), base)
    val dir = s"$d/vertices/Node"
    assert(bucketDirs(dir).count(_.startsWith("__bucket=")) > 1)
    val before = snapshot(dir)

    store.mergeVertices("Node", Seq("k"), Seq(("k1", 999)).toDF("k", "v"))
    val after = snapshot(dir)

    // the store still merges correctly...
    val rows = store.readVertices("Node").get
    assert(rows.count() == 200)
    assert(rows.filter($"k" === "k1").head().getAs[Int]("v") == 999)
    // ...and only k1's bucket directory changed
    val changed = after.filter { case (f, meta) => before.get(f) != Some(meta) }
      .keySet ++ before.keySet.diff(after.keySet)
    val changedBuckets = changed.map(_.split("/")(0)).filter(_.startsWith("__bucket="))
    assert(changedBuckets.size == 1, s"changed: $changed")
    val untouched = before.keySet.intersect(after.keySet)
      .filterNot(f => changedBuckets.exists(f.startsWith))
    assert(untouched.nonEmpty)
    untouched.foreach(f => assert(before(f) == after(f), s"$f was rewritten"))
  }

  test("uuid stability and SET-on-match survive bucketing") {
    val d = Files.createTempDirectory("bstore2").toString
    val store = new GraphStore(spark, d, numBuckets = 4)
    store.mergeVertices("N", Seq("k"), Seq(("a", 1), ("b", 2)).toDF("k", "v"))
    val u1 = store.readVertices("N").get.filter($"k" === "a")
      .head().getAs[String]("uuid")
    store.mergeVertices("N", Seq("k"), Seq(("a", 10)).toDF("k", "v"))
    val r = store.readVertices("N").get.filter($"k" === "a").head()
    assert(r.getAs[String]("uuid") == u1) // ON CREATE only
    assert(r.getAs[Int]("v") == 10)       // SET on match
    assert(store.readVertices("N").get.count() == 2)
  }

  test("composite-key and label-boundary shifts mint DISTINCT uuids") {
    val d = Files.createTempDirectory("buuid").toString
    val store = new GraphStore(spark, d, numBuckets = 4)
    // concatenations collide without a separator: ("ann","ab")+("anna","b")
    store.mergeVertices("P", Seq("first", "last"),
      Seq(("ann", "ab", 1), ("anna", "b", 2)).toDF("first", "last", "v"))
    val uuids = store.readVertices("P").get
      .select("uuid").collect().map(_.getString(0)).toSet
    assert(uuids.size == 2)
    // label/key boundary: label "AB" key "c" vs label "A" key "Bc"
    store.mergeVertices("AB", Seq("k"), Seq(("c", 1)).toDF("k", "v"))
    store.mergeVertices("A", Seq("k"), Seq(("Bc", 1)).toDF("k", "v"))
    val u1 = store.readVertices("AB").get.head().getAs[String]("uuid")
    val u2 = store.readVertices("A").get.head().getAs[String]("uuid")
    assert(u1 != u2)
  }

  test("subset-key detachDelete prunes by scan and leaves other buckets untouched") {
    val d = Files.createTempDirectory("bstore3").toString
    val store = new GraphStore(spark, d, numBuckets = 8)
    // edge identity (cmte, file, tran) but tombstoned by (file, tran) —
    // the FecGraph G8 shape
    val edges = (1 to 200).map(i => (s"c${i % 7}", s"f$i", s"t$i"))
      .toDF("cmte_id", "file_num", "tran_id")
    store.mergeEdges("SPENT", Seq("cmte_id", "file_num", "tran_id"), edges)
    store.mergeVertices("Expenditure", Seq("file_num", "tran_id"),
      edges.select("file_num", "tran_id"))
    val edir = s"$d/edges/SPENT"
    val before = snapshot(edir)

    store.detachDelete("Expenditure", Seq("file_num", "tran_id"),
      Seq(("f7", "t7")).toDF("file_num", "tran_id"),
      Seq("SPENT" -> Seq("file_num", "tran_id")))

    assert(store.readVertices("Expenditure").get.count() == 199)
    val left = store.readEdges("SPENT").get
    assert(left.count() == 199)
    assert(left.filter($"file_num" === "f7").count() == 0)
    val after = snapshot(edir)
    val changed = after.filter { case (f, m) => before.get(f) != Some(m) }
      .keySet ++ before.keySet.diff(after.keySet)
    val changedBuckets = changed.map(_.split("/")(0)).filter(_.startsWith("__bucket="))
    assert(changedBuckets.size == 1, s"changed: $changed")
    val untouched = before.keySet.intersect(after.keySet)
      .filterNot(f => changedBuckets.exists(f.startsWith))
    untouched.foreach(f => assert(before(f) == after(f), s"$f was rewritten"))
  }

  test("detachDelete of keys that are not stored leaves every file byte-identical") {
    val d = Files.createTempDirectory("bstore4").toString
    val store = new GraphStore(spark, d, numBuckets = 8)
    // the vertex table is laid out by exactly the match columns, so its
    // candidate buckets are computed from the keys
    val rows = (1 to 200).map(i => (s"c${i % 7}", s"f$i", s"t$i"))
      .toDF("cmte_id", "file_num", "tran_id")
    store.mergeVertices("Expenditure", Seq("file_num", "tran_id"),
      rows.select("file_num", "tran_id"))
    store.mergeEdges("SPENT", Seq("cmte_id", "file_num", "tran_id"), rows)
    val before = snapshot(d)

    store.detachDelete("Expenditure", Seq("file_num", "tran_id"),
      Seq(("f7", "t8"), ("f999", "t999")).toDF("file_num", "tran_id"),
      Seq("SPENT" -> Seq("file_num", "tran_id")))

    assert(snapshot(d) == before)
    assert(store.readVertices("Expenditure").get.count() == 200)
    assert(store.readEdges("SPENT").get.count() == 200)
  }
}
