package graft.io

import graft.SparkFunSuite
import graft.graph.GraphStore
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The keyed stores' fixed cost per table write, counted in Spark jobs
  * (host-independent), and the footer-derived read schema against a
  * `mergeSchema` read of the same files. */
class StoreWriteCostSpec extends SparkFunSuite {
  import spark.implicits._

  /** The Spark jobs `f` starts. A listener counts job starts; marker
    * jobs run before and after `f` fence the count, because the
    * listener bus delivers events in order. */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 60000
      while (!seen.contains(name) && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(name), s"listener never saw $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("jobsOf-start")
      seen.clear()
      f
      marker("jobsOf-end")
      seen.size - 1
    } finally sc.removeSparkListener(listener)
  }

  test("a small batch MERGEd into an existing GraphStore table runs 3 jobs") {
    val store = new GraphStore(spark,
      Files.createTempDirectory("gjobs").toString, numBuckets = 8)
    store.mergeVertices("Node", Seq("k"),
      (1 to 200).map(i => (s"k$i", i)).toDF("k", "v"))
    val batch = Seq(("k1", 999), ("k500", 5), ("k1", 1000)).toDF("k", "v")
    assert(jobsOf(store.mergeVertices("Node", Seq("k"), batch)) == 3)
    val rows = store.readVertices("Node").get
    assert(rows.count() == 201)
    // last writer wins inside the batch
    assert(rows.filter($"k" === "k1").head().getAs[Int]("v") == 1000)
  }

  test("DocStore.upsert into an existing index runs 3 jobs") {
    val store = new DocStore(spark,
      Files.createTempDirectory("djobs").toString, numBuckets = 8)
    store.index("idx", "doc_id",
      (1 to 200).map(i => (s"d$i", i, "x")).toDF("doc_id", "v", "w"))
    val batch = Seq(("d2", 7), ("d999", 8)).toDF("doc_id", "v")
    assert(jobsOf(store.upsert("idx", "doc_id", batch)) == 3)
    val got = store.read("idx").get
    assert(got.count() == 201)
    val d2 = got.filter($"doc_id" === "d2").head()
    assert(d2.getAs[Int]("v") == 7 && d2.getAs[String]("w") == "x")
  }

  test("DocStore.read and GraphStore.readVertices start no job while built") {
    val d = Files.createTempDirectory("rjobs").toString
    val docs = new DocStore(spark, s"$d/docs", numBuckets = 8)
    docs.index("idx", "doc_id",
      (1 to 50).map(i => (s"d$i", i)).toDF("doc_id", "v"))
    val graph = new GraphStore(spark, s"$d/graph", numBuckets = 8)
    graph.mergeVertices("Node", Seq("k"),
      (1 to 50).map(i => (s"k$i", i)).toDF("k", "v"))
    var built: Seq[DataFrame] = Nil
    assert(jobsOf {
      built = Seq(docs.read("idx").get, graph.readVertices("Node").get)
    } == 0)
    assert(built.map(_.count()) == Seq(50L, 50L))
  }

  /** `read`'s schema and rows against a mergeSchema read of the files. */
  private def assertParity(read: DataFrame, dir: String, key: String): Unit = {
    val ref = spark.read.option("mergeSchema", "true").parquet(dir)
      .drop(BucketedParquet.B)
    assert(read.schema == ref.schema)
    assert(read.orderBy(key).collect().toSeq == ref.orderBy(key).collect().toSeq)
  }

  test("footer-merged read schema equals a mergeSchema read") {
    val d = Files.createTempDirectory("parity").toString
    val docs = new DocStore(spark, s"$d/docs", numBuckets = 8)
    val meta = struct($"a", $"b").as("meta")
    docs.index("idx", "doc_id", (1 to 60).map(i => (s"d$i", i, s"b$i"))
      .toDF("doc_id", "a", "b").select($"doc_id", $"a".as("v"), meta))
    // a batch that adds a column to a few buckets
    docs.index("idx", "doc_id", Seq(("d1", 1, "t1"), ("d2", 2, "t2"))
      .toDF("doc_id", "v", "tag")
      .withColumn("meta", struct(lit(0).as("a"), lit("z").as("b"))))
    // an upsert that widens the struct of one document
    docs.upsert("idx", "doc_id", Seq(("d3", 9L)).toDF("doc_id", "c")
      .select($"doc_id", struct($"c").as("meta")))
    val widened = docs.read("idx").get
    assert(widened.schema("meta").dataType.simpleString ==
      "struct<a:int,b:string,c:bigint>")
    assertParity(widened, s"$d/docs/idx", "doc_id")

    val graph = new GraphStore(spark, s"$d/graph", numBuckets = 8)
    graph.mergeVertices("P", Seq("pid"),
      (1 to 60).map(i => (s"p$i", i)).toDF("pid", "age"))
    graph.mergeVertices("P", Seq("pid"),
      Seq(("p1", 30, "ny")).toDF("pid", "age", "city"))
    graph.mergeEdges("KNOWS", Seq("a", "b"),
      (1 to 59).map(i => (s"p$i", s"p${i + 1}")).toDF("a", "b"))
    graph.detachDelete("P", Seq("pid"), Seq("p1", "p2").toDF("pid"),
      Seq("KNOWS" -> Seq("a")))
    assertParity(graph.readVertices("P").get, s"$d/graph/vertices/P", "pid")
    assertParity(graph.readEdges("KNOWS").get, s"$d/graph/edges/KNOWS", "a")
    assert(graph.readVertices("P").get.count() == 58)
    assert(graph.readEdges("KNOWS").get.count() == 57)
  }

  test("a MERGE keeps the stored properties its batch does not carry") {
    val store = new GraphStore(spark,
      Files.createTempDirectory("gkeep").toString, numBuckets = 4)
    store.mergeVertices("P", Seq("pid"),
      (1 to 40).map(i => (s"p$i", i, s"c$i")).toDF("pid", "age", "city"))
    store.mergeVertices("P", Seq("pid"), Seq(("p1", 99)).toDF("pid", "age"))
    val rows = store.readVertices("P").get
    assert(rows.filter($"city".isNull).count() == 0)
    val p1 = rows.filter($"pid" === "p1").head()
    assert(p1.getAs[Int]("age") == 99 && p1.getAs[String]("city") == "c1")
  }
}
