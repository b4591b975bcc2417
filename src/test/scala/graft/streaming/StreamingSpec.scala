package graft.streaming

import graft.{SparkFunSuite, Tables}
import graft.io.DocStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Batch ≡ incremental equivalence (SURVEY §7.2 P5, hard part #4):
  * the same transform over the same data must produce the same sink
  * whether run as one batch or as checkpointed micro-batches. */
class StreamingSpec extends SparkFunSuite {
  import spark.implicits._

  private def transform(df: DataFrame): DataFrame =
    df.filter(col("event_type").isNotNull)
      .select(col("event_id").as("doc_id"), col("user_id"),
        col("event_type"), col("value"))

  test("funnel_stream_eq never changes the caller's shuffle width while it runs") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val sampler = new Thread(() => while (running.get()) {
      seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
      Thread.sleep(1)
    })
    sampler.start()
    val row = try graft.ops.StreamOps.funnelStreamEq(spark, sfDir).collect().head
    finally { running.set(false); sampler.join() }
    assert(row.getBoolean(4) && row.getBoolean(5)) // keepers + copies
    assert(seen.contains(before) && seen.size == 1,
      s"the session's shuffle width moved: $seen")
  }

  test("AvailableNow stream over parquet == one-shot batch") {
    val tmp = Files.createTempDirectory("stream").toString
    // copy events into a multi-file source dir so several micro-batches
    // occur (maxFilesPerTrigger=1)
    val ev = Tables.events(spark, sfDir)
    ev.repartition(4).write.mode("overwrite").parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema

    val streamStore = new DocStore(spark, s"$tmp/stream_sink")
    IncrementalPipeline.runAvailableNow(
      spark, s"$tmp/src", schema, s"$tmp/ckpt",
      transform,
      (batch, _) => streamStore.upsert("out", "doc_id", batch),
      maxFilesPerTrigger = Some(1))

    val batchStore = new DocStore(spark, s"$tmp/batch_sink")
    batchStore.upsert("out", "doc_id",
      transform(spark.read.parquet(s"$tmp/src")))

    val s = streamStore.read("out").get.orderBy("doc_id").collect().toSeq
    val b = batchStore.read("out").get.orderBy("doc_id").collect().toSeq
    assert(s == b)
    assert(s.size == ev.count())
  }

  test("restart from checkpoint does not duplicate (exactly-once sink)") {
    val tmp = Files.createTempDirectory("stream2").toString
    val ev = Tables.events(spark, sfDir)
    ev.repartition(2).write.mode("overwrite").parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    val store = new DocStore(spark, s"$tmp/sink")
    def run(): Unit = IncrementalPipeline.runAvailableNow(
      spark, s"$tmp/src", schema, s"$tmp/ckpt", transform,
      (batch, _) => store.upsert("out", "doc_id", batch))
    run()
    val n1 = store.read("out").get.count()
    run() // second run: checkpoint says nothing new
    assert(store.read("out").get.count() == n1)
  }

  test("watermarked windowed aggregation emits per-window counts") {
    val tmp = Files.createTempDirectory("stream3").toString
    Tables.events(spark, sfDir).repartition(2)
      .write.mode("overwrite").parquet(s"$tmp/src")
    val schema = spark.read.parquet(s"$tmp/src").schema
    // accumulate across micro-batches (AvailableNow may run a final
    // empty batch to advance the watermark — update-mode sinks must
    // merge, not overwrite)
    val acc = scala.collection.mutable.Map[(java.sql.Timestamp, String), Long]()
    IncrementalPipeline.runAvailableNow(
      spark, s"$tmp/src", schema, s"$tmp/ckpt",
      df => IncrementalPipeline.windowedCounts(df, "1 hour", "1 hour"),
      (batch, _) => batch.collect().foreach { r =>
        acc((r.getTimestamp(0), r.getString(1))) = r.getLong(2)
      })
    // batch oracle: same agg over the static read
    val expected = Tables.events(spark, sfDir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(acc.size == expected.count())
    assert(acc.values.sum == Tables.events(spark, sfDir).count())
  }
}

class MultimodalSpec extends SparkFunSuite {
  import graft.multimodal.Multimodal
  import spark.implicits._

  test("feature extraction: every payload decodes, unit L1 mass") {
    val media = Multimodal.mediaFromDocuments(Tables.documents(spark, sfDir))
    val feats = Multimodal.extractFeatures(media, new Multimodal.FakeCodec(32))
    assert(feats.filter(!col("ok")).count() == 0)
    val mass = feats.select(
      expr("aggregate(features, cast(0.0 as double), (acc, x) -> acc + x)")
        .as("m")).agg(min("m"), max("m")).as[(Double, Double)].head()
    assert(math.abs(mass._1 - 1.0) < 1e-5 && math.abs(mass._2 - 1.0) < 1e-5)
  }

  test("binary dedup groups identical payloads, keeps the smallest id") {
    val d = Files.createTempDirectory("mmdedup").toString
    Seq(
      (10L, "identical bytes", "en", "web", 15L),
      (11L, "identical bytes", "en", "books", 15L), // dup across sources
      (12L, "different bytes", "en", "web", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val out = graft.ops.MultimodalOps.mmDedup(spark, d).collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_media_id") == 10L)
    assert(dup.getAs[Int]("n_bytes") == "identical bytes".getBytes.length)
  }

  test("empty payload is quarantined, not crashed") {
    val media = Seq((1L, Array.empty[Byte]), (2L, "abc".getBytes.toArray))
      .toDF("media_id", "payload")
      .withColumn("meta", lit(null).cast(Multimodal.metadataSchema))
    val feats = Multimodal.extractFeatures(media, new Multimodal.FakeCodec(8))
    assert(feats.filter(col("ok")).count() == 1)
    assert(feats.filter(!col("ok")).select("features").head().isNullAt(0))
  }

  test("stateful streaming sessionization over micro-batches == batch ev_sessions") {
    val tmp = Files.createTempDirectory("sess").toString
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"))
    // four time-ordered chunk files written sequentially (distinct
    // mtimes), so maxFilesPerTrigger=1 delivers each user's events in
    // nondecreasing event time across micro-batches
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("tsu"), col("event_id"))
    val chunked = ev.withColumn("chunk", ntile(4).over(w))
    for (k <- 1 to 4) {
      chunked.filter(col("chunk") === k).drop("chunk")
        .coalesce(1).write.mode("append").parquet(s"$tmp/src")
      Thread.sleep(1100)
    }
    val schema = spark.read.parquet(s"$tmp/src").schema

    // upserting sink keyed by (user_id, session_seq) — update-mode
    // rows converge to the final session set
    val sink = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long, Long)]
    IncrementalPipeline.runAvailableNow(
      spark, s"$tmp/src", schema, s"$tmp/ckpt",
      df => SessionState.sessionize(df.as[SessionState.SessEvent]).toDF(),
      (batch, _) => batch.collect().foreach { r =>
        sink((r.getLong(0), r.getLong(1))) =
          (r.getLong(2), r.getLong(3), r.getLong(4))
      },
      maxFilesPerTrigger = Some(1))

    val expected = graft.ops.EventOps.evSessions(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(sink.toMap == expected)
  }

  test("frame sampling covers the payload without overlap") {
    val media = Multimodal.mediaFromDocuments(
      Tables.documents(spark, sfDir).limit(10))
    val frames = Multimodal.sampleFrames(media, 4)
    val sums = frames.groupBy("media_id")
      .agg(sum(length(col("frame_bytes"))).as("total"))
    val origs = media.select(col("media_id"),
      length(col("payload")).as("orig"))
    val joined = sums.join(origs, "media_id")
      .filter(col("total") =!= col("orig"))
    assert(joined.count() == 0)
  }
}
