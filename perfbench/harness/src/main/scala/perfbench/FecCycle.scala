package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fec._
import graft.graph.GraphStore
import graft.io.{BucketedParquet, DocStore}

/** The `fec_cycle` workload's calls into graft: the dims and contribution
  * files of one generated FEC filing cycle ingested into empty stores
  * (the cold part of a pass), then a generated late-contribution batch
  * ingested into the loaded stores (the warm part), both through the
  * same incremental public functions; in traced runs, untimed, the
  * cycle's expenditure files and an amendment batch as well. Every
  * stage's outputs are read back from the stores, untimed, for the
  * checks in `checks.py`. */
final class FecCycle(spark: SparkSession, tr: Tracer, inputs: String) {

  private val cycle = s"$inputs/cycle"
  private val runTs: Column = lit("2022-11-08 12:00:00").cast("timestamp")
  private val contribIndex = "federal_fec_contributions"

  private def bulkPath(dir: String, table: String): String = {
    val txt = s"$dir/$table.txt"
    if (Files.exists(Paths.get(txt))) txt else s"$dir/$table.csv"
  }

  private def read(part: String, dir: String, table: String): DataFrame =
    tr.span(s"$part.build", "fec.FecSchemas", s"readBulkFile $table") {
      FecSchemas.readBulkFile(spark, table, bulkPath(dir, table))
    }

  private def plan(part: String, module: String, name: String,
      df: DataFrame): Unit =
    if (tr.enabled)
      tr.span(s"$part.plan", module, name) { df.queryExecution.executedPlan }

  /** Materializes a stage output once for its several consumers, as
    * `FecPipeline.run` does. */
  private def materialize(part: String, module: String, name: String,
      df: DataFrame): DataFrame = {
    plan(part, module, name, df)
    tr.span(s"$part.exec", module, name) { df.localCheckpoint(true) }
  }

  /** One batch of bulk files (the cycle, or a late-data delta) through
    * the incremental public functions into the stores under `store`.
    * Contribution files go through the master table, the classification
    * views, the envelopes `FecDocs.loadIncremental` adds and the
    * contribution graph MERGE; expenditure files through their master
    * table and the expenditure graph MERGE with amendment replay. A
    * batch without one kind of file skips its path. `part` names the
    * span phase (`cold` for the cycle into empty stores, `warm` for a
    * delta). Returns the number of new contribution documents. */
  def ingest(store: String, dir: String, part: String): Long = {
    val p = part
    def has(table: String) = Files.exists(Paths.get(bulkPath(dir, table)))
    val cn = read(p, cycle, "cn22")
    val cm = read(p, cycle, "cm22")
    val docs = new DocStore(spark, s"$store/docs")
    val graph = new GraphStore(spark, s"$store/graph")
    var n = 0L
    if (has("indiv22")) {
      val Seq(indiv, oth) = Seq("indiv22", "oth22").map(read(p, dir, _))
      val contributions = tr.span(s"$p.build", "fec.MasterTables",
        "contributions") { MasterTables.contributions(oth, indiv) }
      val elastic = materialize(p, "fec.ContributionViews", "elastic",
        tr.span(s"$p.build", "fec.ContributionViews", "elastic") {
          ContributionViews.elastic(contributions, cn, cm)
        })
      val envelopes = tr.span(s"$p.build", "fec.FecDocs", "envelopes") {
        FecDocs.contributionDocs(elastic, runTs)
      }
      n = tr.span(s"$p.exec", "io.DocStore", "loadIncremental") {
        FecDocs.loadIncremental(docs, contribIndex, envelopes)
      }
      tr.span(s"$p.exec", "graph.GraphStore", "loadContributions") {
        FecGraph.loadContributions(graph, elastic)
      }
    }
    if (has("independent_expenditure_2022")) {
      val Seq(opp, ie) = Seq("oppexp22", "independent_expenditure_2022")
        .map(read(p, dir, _))
      val expenditures = materialize(p, "fec.MasterTables", "expenditures",
        tr.span(s"$p.build", "fec.MasterTables", "expenditures") {
          MasterTables.expenditures(opp, ie, cm, cn)
        })
      tr.span(s"$p.exec", "graph.GraphStore", "loadExpenditures") {
        FecGraph.loadExpenditures(graph, expenditures)
      }
    }
    n
  }

  /** The timed load: the cycle's dims and contribution files. */
  def load(store: String): Long = ingest(store, cycle, "cold")

  /** The cycle's expenditure files, with their amendment chains. */
  def loadExpenditures(store: String): Long =
    ingest(store, s"$inputs/expenditures", "warm")

  def applyDelta(store: String, k: Int): Long =
    ingest(store, s"$inputs/delta_$k", "warm")

  def deltaInputBytes(k: Int): Long =
    files(Paths.get(s"$inputs/delta_$k")).map(_._2).sum

  // ------------------------------------------------------------ checks

  private def plain(v: java.math.BigDecimal): String =
    (if (v == null) java.math.BigDecimal.ZERO else v).setScale(2).toPlainString

  /** What the stores hold after a stage, for the generator-tally
    * checks: contribution document and vertex counts, the conserved
    * amount sum on both sides, the documents per classification and the
    * expenditure vertex keys, in three jobs. */
  def observe(store: String): Map[String, Any] = {
    val docs = new DocStore(spark, s"$store/docs")
    val graph = new GraphStore(spark, s"$store/graph")
    val amount = (c: String) => sum(col(c).cast("decimal(20,2)"))
    val byClass = docs.read(contribIndex).get
      .groupBy(col("row.source.classification"))
      .agg(count(lit(1)), amount("row.transaction_amt")).collect()
    val cv = graph.readVertices("Contribution").get
      .agg(count(lit(1)), amount("transaction_amt")).head()
    val ev = graph.readVertices("Expenditure")
    Map[String, Any](
      "contribution_docs" -> byClass.map(_.getLong(1)).sum,
      "contribution_vertices" -> cv.getLong(0),
      "amount_sum_docs" -> plain(byClass.map(_.getDecimal(2))
        .foldLeft(java.math.BigDecimal.ZERO)((a, b) => a.add(b))),
      "amount_sum_vertices" -> plain(cv.getDecimal(1)),
      "classified" -> byClass.map(r => r.getString(0) -> r.getLong(1)).toMap,
      "expenditure_keys" -> ev.toSeq.flatMap(_.select(concat_ws("|",
        col("file_num"), col("tran_id"))).collect().map(_.getString(0))).sorted)
  }

  /** Rows in every vertex and every edge table of the graph store. */
  def tableRows(store: String): (Long, Long) = {
    def rows(kind: String): Long = {
      val root = Paths.get(s"$store/graph/$kind")
      if (!Files.exists(root)) 0L
      else Files.list(root).iterator().asScala.toSeq.map { p =>
        BucketedParquet.readAll(spark, p.toString).map(_.count()).getOrElse(0L)
      }.sum
    }
    (rows("vertices"), rows("edges"))
  }

  /** For every keyed table of the store (documents, vertices, edges),
    * the number of keys stored more than once, in one job over the keys
    * of all tables. */
  def duplicateKeys(store: String): Map[String, Long] = {
    val root = Paths.get(store)
    val tables = keyedTables(root).map(root.relativize(_).toString)
    val keys = tables.map { t =>
      val dir = s"$store/$t"
      val key = BucketedParquet.layoutKey(dir).get.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000")))
      BucketedParquet.readAll(spark, dir).get
        .select(lit(t).as("t"), concat_ws("\u0001", key: _*).as("k"))
    }
    val dups = keys.reduce(_ union _).groupBy("t", "k").count()
      .filter(col("count") > 1).groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    tables.map(t => t -> dups.getOrElse(t, 0L)).toMap
  }

  private def keyedTables(root: Path): Seq[Path] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.exists(p.resolve("_BUCKET_KEY"))).toSeq

  /** Row count and content digest of every keyed table in the store,
    * in one job: each row (its columns in name order, as JSON) is hashed
    * twice and the hashes are summed per table, so the digest does not
    * depend on row order or file layout. */
  def tableDigests(store: String): Map[String, String] = {
    val root = Paths.get(store)
    val rows = keyedTables(root).map(root.relativize(_).toString).map { t =>
      val df = BucketedParquet.readAll(spark, s"$store/$t").get
      val json = to_json(struct(df.columns.sorted.toSeq.map(col): _*))
      df.select(lit(t).as("t"), xxhash64(json).as("h1"), hash(json).as("h2"))
    }
    rows.reduce(_ union _).groupBy("t").agg(count(lit(1)),
        sum(col("h1").cast("decimal(38,0)")), sum(col("h2").cast("decimal(38,0)")))
      .collect().map(r => r.getString(0) ->
        s"${r.getLong(1)}:${r.getDecimal(2)}:${r.getDecimal(3)}").toMap
  }

  // ------------------------------------------------------ store layout

  /** A copy of the store directory `from` at `to`: the stores keep no
    * absolute paths, so the copy is a store in the same state. */
  def copyStore(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    BucketedParquet.deleteTree(dst)
    Files.walk(src).iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
  }

  /** Regular files under `p` with their sizes. */
  def files(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap

  /** Bucket directories of the store, each with its file names. */
  def buckets(store: String): Map[String, Set[String]] =
    files(Paths.get(store)).keys.toSeq
      .filter(_.contains(s"/${BucketedParquet.B}="))
      .groupBy(f => f.substring(0, f.lastIndexOf('/')))
      .map { case (d, fs) => d -> fs.toSet }
}

/** The run loop's view of `fec_cycle`: a pass loads the cycle's
  * contribution files into a fresh store (cold) and then applies the
  * late-contribution batch (warm). Before the timed batch, the same
  * batch is applied, untimed and untraced, to a copy of the loaded
  * store (the warm-up), so that the timed batch runs with the delta
  * path's generated code compiled and JIT-compiled, as in an ingest
  * process that has applied batches before; the first batch of a JVM
  * spends about half as much CPU time again, much of it compiling, and
  * varies with it. In traced runs the warm-up copy then takes the replay check
  * (see `finish`). An operation that throws is counted as failed and
  * not timed; the delta after a failed load, or after a failed warm-up,
  * fails with it. */
final class FecWorkload(spark: SparkSession, tr: Tracer, inputs: String,
    work: String, replay: Boolean, deadlineMs: Long) extends Workload {

  private val fec = new FecCycle(spark, tr, inputs)
  private var lastStore: Option[String] = None
  /** Wall seconds of the last timed delta. */
  private var lastDeltaS = 0.0
  /** The replay check's observations, from the first traced warm-up. */
  private var replayObs = Map.empty[String, Any]
  private val layerSums = mutable.Map.empty[String, Double]
  private def addLayer(k: String, v: Double): Unit =
    layerSums(k) = layerSums.getOrElse(k, 0.0) + v

  private def timed[T](f: => T): Either[String, (T, Clock.Elapsed)] = {
    val r = Clock.now()
    try { val v = f; Right((v, Clock.since(r))) }
    catch { case e: Throwable => Left(e.toString) }
  }

  def pass(p: Int): Map[String, Any] = {
    val store = s"$work/store_p$p"
    BucketedParquet.deleteTree(Paths.get(store))
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0
    tr.op = "load"
    var warmUpS = Clock.settle()
    val load = timed(fec.load(store))
    val cold = load match {
      case Right((_, t)) => t
      case Left(e) => failed += 1; errors += s"load: $e"; Clock.zero
    }
    val obsLoad = if (load.isRight) fec.observe(store)
      else Map.empty[String, Any]
    if (tr.enabled && load.isRight) {
      addLayer("store.bytes_written", fec.files(Paths.get(store)).values.sum.toDouble)
    }
    // the timed late-data batch is delta 1, the late contributions
    var warm = Clock.zero
    val delta: Map[String, Any] =
      if (load.isLeft) { failed += 1; Map("skipped" -> true) }
      else {
        val before = if (tr.enabled) fec.buckets(store) else Map.empty[String, Set[String]]
        val beforeFiles = if (tr.enabled) fec.files(Paths.get(store)) else Map.empty[String, Long]
        tr.op = "delta 1"
        val (warmUpError, s) = warmUp(store)
        warmUpS += s + Clock.settle()
        warmUpError.toLeft(()).flatMap(_ => timed(fec.applyDelta(store, 1))) match {
          case Right((n, t)) =>
            warm = t
            lastDeltaS = t.wallS
            if (tr.enabled) deltaLayers(store, 1, before, beforeFiles)
            fec.observe(store) + ("new_docs" -> n)
          case Left(e) =>
            failed += 1; errors += s"delta 1: $e"
            Map("failed" -> true)
        }
      }
    if (tr.enabled && load.isRight) storeLayers(store)
    lastStore.filter(_ != store).foreach(s => BucketedParquet.deleteTree(Paths.get(s)))
    lastStore = Some(store)
    Map("cold_s" -> cold.wallS, "warm_s" -> warm.wallS,
      "cold_cpu_s" -> cold.cpuS, "warm_cpu_s" -> warm.cpuS,
      "warmup_s" -> warmUpS,
      "steal_pct" -> (cold + warm).stealPct, "attempted" -> 2,
      "failed" -> failed, "errors" -> errors.toSeq, "load" -> obsLoad,
      "deltas" -> Seq(delta))
  }

  /** The untimed warm-up of the timed batch: delta 1 into a copy of
    * the loaded store, with tracing off; in the first pass of a traced
    * run, then the replay check on the copy. Returns the warm-up's
    * error, if it throws, and its wall seconds (without the check). */
  private def warmUp(store: String): (Option[String], Double) = {
    val copy = s"${store}_warmup"
    val traced = tr.enabled
    tr.enabled = false
    val t0 = System.nanoTime()
    var s = 0.0
    try {
      fec.copyStore(store, copy)
      fec.applyDelta(copy, 1)
      between()
      s = (System.nanoTime() - t0) / 1e9
      if (replay && replayObs.isEmpty) replayObs = replayCheck(copy)
      (None, s)
    } catch { case e: Throwable => (Some(s"warm-up: $e"), s) }
    finally {
      tr.enabled = traced
      between()
      BucketedParquet.deleteTree(Paths.get(copy))
    }
  }

  /** Delta 1 applied a second time to a store that holds it: the row
    * count and content digest of every keyed table (the document index,
    * every vertex and edge table), before and after. */
  private def replayCheck(store: String): Map[String, Any] = {
    val before = fec.tableDigests(store)
    val error =
      try { fec.applyDelta(store, 1); between(); None }
      catch { case e: Throwable => Some(e.toString) }
    Map("digests_before_replay" -> before, "replay_error" -> error,
      "digests_after_replay" -> fec.tableDigests(store))
  }

  /** Write amplification of one delta: the bucket directories whose
    * files changed and the bytes of the files it wrote. */
  private def deltaLayers(store: String, k: Int, before: Map[String, Set[String]],
      beforeFiles: Map[String, Long]): Unit = {
    val after = fec.buckets(store)
    val afterFiles = fec.files(Paths.get(store))
    val written = afterFiles.filter { case (f, _) => !beforeFiles.contains(f) }
      .values.sum.toDouble
    addLayer("delta.bytes_written", written)
    addLayer("delta.buckets_rewritten",
      after.count { case (d, fs) => before.get(d).forall(_ != fs) })
    addLayer("delta.buckets_total", after.size)
    addLayer("delta.input_bytes", fec.deltaInputBytes(k).toDouble)
  }

  private def storeLayers(store: String): Unit = {
    addLayer("store.bytes", fec.files(Paths.get(store)).values.sum.toDouble)
    val docs = new DocStore(spark, s"$store/docs")
    addLayer("store.doc_rows",
      docs.read("federal_fec_contributions").map(_.count()).getOrElse(0L).toDouble)
    val (v, e) = fec.tableRows(store)
    addLayer("store.vertices", v.toDouble)
    addLayer("store.edges", e.toDouble)
  }

  def between(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** The expenditure path and the MERGE properties, on the last pass's
    * store, in a traced run: the cycle's expenditure files are ingested
    * (amendment chains inside the cycle), then the amendment batch
    * (delta 2: amendments of loaded expenditures, fresh expenditures);
    * and no keyed table (documents, vertices, edges) may store a key
    * twice. The replay of the late-contribution batch (delta 1), which
    * must change no table of the document or the graph store, was made
    * on the first pass's warm-up copy, a store holding the load and
    * delta 1. Each of the two batches costs at most about what the
    * timed delta did; a batch is left out, with the one after it, and
    * reported so, when the run's time limit (`deadlineMs`) would not
    * allow it. Untraced runs only drop the store: their counts already
    * catch a document or `Contribution` key stored twice. */
  def finish(): Map[String, Any] = lastStore match {
    case None => Map.empty
    case Some(store) =>
      val merge: Map[String, Any] = if (!replay) Map.empty else {
        def attempt(f: => Unit) =
          try { f; between(); None }
          catch { case e: Throwable => Some(e.toString) }
        def fits = System.currentTimeMillis() +
          (1.2 * lastDeltaS + 10) * 1000 < deadlineMs
        val out = mutable.LinkedHashMap.empty[String, Any]
        if (fits) {
          out("expenditures_error") = attempt(fec.loadExpenditures(store))
          out("expenditures") = fec.observe(store)
        }
        if (fits && out.contains("expenditures")) {
          out("amendment_error") = attempt(fec.applyDelta(store, 2))
          out("amendment_batch") = fec.observe(store)
        }
        out ++= replayObs
        out("skipped") = Seq("expenditures", "amendment_batch",
          "digests_after_replay").filterNot(out.contains)
        out("duplicate_keys") = fec.duplicateKeys(store)
        out.toMap
      }
      BucketedParquet.deleteTree(Paths.get(store))
      merge
  }

  def layers(nPasses: Int): Map[String, Double] = {
    val per = layerSums.map { case (k, v) => k -> v / nPasses }.toMap
    val deltaIn = per.getOrElse("delta.input_bytes", 0.0)
    CatalogWorkload.phaseLayers(tr, nPasses) ++ per ++ Map(
      "delta.rewrite_per_input_byte" ->
        (if (deltaIn > 0) per.getOrElse("delta.bytes_written", 0.0) / deltaIn
         else 0.0))
  }
}
