package graft.io

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Hash-bucketed parquet layout of the keyed stores
  * ([[graft.graph.GraphStore]] vertex and edge tables, [[DocStore]]
  * indices) and the one keyed read-merge-swap path they share. Only
  * this object knows the layout; the stores supply merge rules.
  *
  * Layout: a table is a directory of `__bucket=K` subdirectories with
  * K = murmur3(normalized key strings) % N, one file per bucket. The
  * first write records the key columns (`_BUCKET_KEY`) and N
  * (`_NUM_BUCKETS`); from then on the stored N is authoritative over
  * the caller's `numBuckets`, so a store reopened with another count
  * still merges against the right directories. Buckets written at
  * different times may carry different column sets. A read's schema is
  * merged on the driver from the Spark row schema in the footers of the
  * buckets it reads, in path order as a `mergeSchema` read merges them,
  * so building a read starts no Spark job.
  *
  * [[merge]] runs three Spark jobs per write: the batch is persisted
  * with each row's arrival order, one shuffle-free job collects the
  * bucket ids its keys hash into, and the touched buckets' stored rows
  * are unioned with the batch, repartitioned on the bucket id (the
  * shuffle-map job), grouped per (bucket, key) by the store's rule and
  * written partitioned by bucket with no further exchange (the write
  * job). Last-wins on arrival order inside the group dedupes the batch;
  * a stored column whose type matches the batch's shares its slot in
  * the shuffled row. Writes ([[merge]], [[deleteKeys]]) read only the
  * touched buckets (partition pruning) and swap only those directories
  * in through a staging dir and a journal ([[recover]]); every other
  * bucket's files stay byte-identical.
  *
  * Cost: a batch of k distinct keys touches about N·(1−(1−1/N)^k) of a
  * table's N buckets, so a rewrite is batch-sized only when k ≪ N; as k
  * nears N it rewrites nearly the whole table. With N = 16, a 108-line
  * late-contribution batch into the FEC stores rewrote 188 of their 192
  * buckets. The three jobs are a fixed cost per table write whatever
  * the batch size, so a small batch into many tables is bound by job
  * scheduling, not by its data.
  */
object BucketedParquet {

  val B = "__bucket"
  private val Ord = "__ord"

  /** In a [[merge]] rule: the key's stored row (null when it has none)
    * and the batch's last row for it (null when the batch has none),
    * each a struct of the non-key columns. */
  val Old: Column = col("__old")
  val New: Column = col("__new")

  private def exists(dir: String): Boolean = Files.exists(Paths.get(dir))

  /** Null-safe normalized key strings (null → single space, so a null
    * key still buckets deterministically). */
  def keyStrings(keyCols: Seq[String]): Seq[Column] =
    keyCols.map(c => coalesce(col(c).cast("string"), lit(" ")))

  /** murmur3 over the normalized key strings, mod numBuckets. */
  def bucketOf(keyCols: Seq[String], numBuckets: Int): Column =
    pmod(hash(keyStrings(keyCols): _*), lit(numBuckets))

  /** The distinct bucket ids a batch's keys hash into. */
  def touchedBuckets(df: DataFrame, keyCols: Seq[String],
      numBuckets: Int): Seq[Int] =
    bucketIds(df.select(bucketOf(keyCols, numBuckets).as(B)))

  /** The distinct values of `df`'s bucket column: a set per partition,
    * merged on the driver, so no shuffle. */
  private def bucketIds(df: DataFrame): Seq[Int] =
    df.select(col(B)).as(Encoders.scalaInt)
      .mapPartitions(ids => ids.toSet.iterator)(Encoders.scalaInt)
      .collect().distinct.sorted.toSeq

  /** The Spark row schema of `dir`'s buckets (those in `only`, or all),
    * merged from their files' footers, or None when they hold no file. */
  private def footerSchema(spark: SparkSession, dir: String,
      only: Option[Seq[Int]]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bucketDirs = only match {
      case Some(ks) => ks.map(k => Paths.get(s"$dir/$B=$k"))
      case None => Files.list(Paths.get(dir)).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith(s"$B="))
    }
    val files = bucketDirs.filter(Files.isDirectory(_)).flatMap { d =>
      Files.list(d).iterator().asScala.toSeq.filterNot { f =>
        val n = f.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }
    }.sortBy(_.toUri.toString)
    // every bucket file is written by Spark, which records its row
    // schema in the footer
    val schemas = files.map { f =>
      val reader = ParquetFileReader.open(conf, new HPath(f.toUri))
      try DataType.fromJson(reader.getFooter.getFileMetaData
          .getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .asInstanceOf[StructType]
      finally reader.close()
    }
    schemas.reduceOption(PlanBridge.mergeSchemas)
  }

  /** The table's buckets (those in `only`, or all) with their bucket
    * ids, or None before the table's first write or when they hold no
    * file. */
  private def scan(spark: SparkSession, dir: String,
      only: Option[Seq[Int]] = None): Option[DataFrame] = {
    recover(dir)
    if (!exists(dir)) None
    else footerSchema(spark, dir, only).map { s =>
      val df = spark.read.schema(s.add(StructField(B, IntegerType))).parquet(dir)
      only.fold(df)(ks => df.filter(col(B).isin(ks.map(Integer.valueOf): _*)))
    }
  }

  /** The whole table, None before its first write; a table whose
    * buckets hold no file reads as no rows and no columns. */
  def readAll(spark: SparkSession, dir: String): Option[DataFrame] =
    if (!exists(dir)) None
    else Some(scan(spark, dir).fold(spark.emptyDataFrame)(_.drop(B)))

  /** The stored bucket count, or `default` before the first write. */
  private def layoutBuckets(dir: String, default: Int): Int = {
    val p = Paths.get(s"$dir/_NUM_BUCKETS")
    if (Files.exists(p)) Files.readString(p).trim.toInt else default
  }

  /** The key columns the table's buckets were laid out by. */
  def layoutKey(dir: String): Option[Seq[String]] = {
    val p = Paths.get(s"$dir/_BUCKET_KEY")
    if (Files.exists(p)) Some(Files.readString(p).split(",").toSeq) else None
  }

  /** The stored keys in the buckets that `candidates`' keys hash into:
    * a membership probe that reads no other bucket. */
  def storedKeys(spark: SparkSession, dir: String, keyCols: Seq[String],
      candidates: DataFrame, numBuckets: Int): DataFrame = {
    val keys = keyCols.map(col)
    val buckets = touchedBuckets(candidates.select(keys: _*), keyCols,
      layoutBuckets(dir, numBuckets))
    scan(spark, dir, Some(buckets)).getOrElse(candidates.limit(0))
      .select(keys: _*)
  }

  /** Keyed read-modify-write in three jobs (see the class doc). Per key
    * of the touched buckets, `rule(oldFields, newFields)` gives the
    * non-key columns the key keeps, over [[Old]] and [[New]] (structs of
    * `oldFields` and `newFields`; `oldFields` is empty before the
    * table's first write); a key whose rule yields all-null columns is
    * still kept. `batch` is persisted for its two evaluations and
    * released before returning. */
  def merge(spark: SparkSession, dir: String, keyCols: Seq[String],
      batch: DataFrame, numBuckets: Int)(
      rule: (StructType, StructType) => Seq[Column]): Unit = {
    val n = layoutBuckets(dir, numBuckets)
    val keys = keyCols.map(col)
    val bucket = bucketOf(keyCols, n)
    val props = batch.columns.filterNot(keyCols.contains).toSeq
    val b = batch.select(keys ++ (monotonically_increasing_id().as(Ord) +:
      props.map(col)): _*).persist()
    try {
      val touched = bucketIds(b.select(bucket.as(B)))
      if (touched.nonEmpty) {
        val newFields = StructType(props.map(b.schema(_)))
        val stored = scan(spark, dir, Some(touched))
        val oldFields = StructType(stored.toSeq.flatMap(_.schema.fields)
          .filterNot(f => f.name == B || keyCols.contains(f.name)))
        // a stored column shares the batch column's slot when their
        // types agree, so a shuffled row carries each value once
        def slot(f: StructField) =
          if (newFields.exists(n => n.name == f.name &&
            n.dataType.catalogString == f.dataType.catalogString)) f.name
          else s"__old_${f.name}"
        val rows = stored.fold(b)(_.select(keys ++
            (lit(null).cast("long").as(Ord) +:
              oldFields.map(f => col(f.name).as(slot(f)))): _*)
          .unionByName(b, allowMissingColumns = true))
        val merged = rows.repartition(bucket).withColumn(B, bucket)
          .groupBy(col(B) +: keys: _*)
          .agg(first(when(col(Ord).isNull,
              struct(oldFields.map(f => col(slot(f)).as(f.name)): _*)),
              ignoreNulls = true).as("__old"),
            max_by(struct(props.map(col): _*), col(Ord)).as("__new"))
          .select((col(B) +: keys) ++ rule(oldFields, newFields): _*)
        writeBuckets(dir, merged, touched, keyCols, n)
      }
    } finally b.unpersist()
  }

  /** Removes the rows whose `matchCols` equal a row of `keys` and
    * rewrites only the buckets that lose a row, so a delete whose keys
    * are not stored leaves every file byte-identical. When the table is
    * laid out by exactly `matchCols` the candidate buckets are computed
    * from the keys; otherwise (an edge deleted by a subset of its
    * identity) a scan of the table finds them. Rows keep their stored
    * bucket. `keys` is evaluated up to three times: pass a materialized
    * frame, never one that reads the files this delete replaces. */
  def deleteKeys(spark: SparkSession, dir: String, matchCols: Seq[String],
      keys: DataFrame, numBuckets: Int): Unit = {
    if (!exists(dir)) return
    val n = layoutBuckets(dir, numBuckets)
    val stored =
      if (layoutKey(dir).contains(matchCols)) {
        val candidates = touchedBuckets(keys, matchCols, n)
        if (candidates.isEmpty) return
        scan(spark, dir, Some(candidates))
      } else scan(spark, dir)
    stored.foreach { old =>
      val hit = bucketIds(old.join(keys, matchCols, "left_semi"))
      if (hit.nonEmpty)
        writeBuckets(dir,
          old.filter(col(B).isin(hit.map(Integer.valueOf): _*))
            .join(keys, matchCols, "left_anti").repartition(col(B)),
          hit, matchCols, n)
    }
  }

  private def journalPath(dir: String) = Paths.get(dir + ".swap-journal")

  /** Complete a bucket swap interrupted mid-loop. The journal is
    * written only AFTER the staging dir is fully materialized, so the
    * staged buckets are the commit point and recovery ROLLS FORWARD:
    * a touched bucket whose staged dir still exists has not had its
    * second move (stage→live) yet — the old live (if any) goes to
    * trash and the staged version moves in; a touched bucket with no
    * staged dir has unambiguously finished its swap (the writer stages
    * an explicit EMPTY dir for touched buckets with zero surviving
    * rows, so "missing" can never mean "legitimately empty").
    * Idempotent, crash-safe to re-crash inside, and a no-op without a
    * journal — called from every read/write entry point. */
  private def recover(dir: String): Unit = {
    val j = journalPath(dir)
    if (!Files.exists(j)) return
    val staging = dir + ".staging"
    val trash = Paths.get(dir + ".trash")
    Files.createDirectories(trash)
    val touched = Files.readString(j).trim.split(",")
      .filter(_.nonEmpty).map(_.toInt)
    touched.foreach { k =>
      val live = Paths.get(s"$dir/$B=$k")
      val staged = Paths.get(s"$staging/$B=$k")
      if (Files.exists(staged)) {
        if (Files.exists(live)) {
          val t = trash.resolve(s"$B=$k")
          if (Files.exists(t)) deleteTree(t)
          Files.move(live, t)
        }
        Files.move(staged, live)
      }
    }
    deleteTree(Paths.get(staging))
    deleteTree(trash)
    Files.delete(j)
  }

  /** Stage the touched buckets, then swap ONLY their directories in.
    * `rows` must carry the bucket-id column [[B]] and be partitioned on
    * it, so each bucket is one file; `keyCols` and `numBuckets` are
    * recorded when the table is created. */
  private def writeBuckets(dir: String, rows: DataFrame, touched: Seq[Int],
      keyCols: Seq[String], numBuckets: Int): Unit = {
    recover(dir)
    val staging = dir + ".staging"
    rows.write.mode("overwrite").partitionBy(B).parquet(staging)
    if (!exists(dir)) {
      Files.move(Paths.get(staging), Paths.get(dir))
      Files.writeString(Paths.get(s"$dir/_BUCKET_KEY"), keyCols.mkString(","))
      Files.writeString(Paths.get(s"$dir/_NUM_BUCKETS"), numBuckets.toString)
      return
    }
    // Spark writes no partition dir for an empty bucket; materialize an
    // empty staged dir for every touched bucket so that during recovery
    // "no staged dir" can only mean "this bucket's swap already
    // finished" — otherwise a crash after journaling would leave an
    // all-rows-deleted bucket's old live dir in place forever.
    touched.foreach { k =>
      val staged = Paths.get(s"$staging/$B=$k")
      if (!Files.exists(staged)) Files.createDirectories(staged)
    }
    // commit point: staging is complete — journal the touched set so a
    // crash inside the move loop rolls FORWARD on next open instead of
    // leaving silently-missing buckets (see recover)
    Files.writeString(journalPath(dir), touched.mkString(","))
    val trash = Paths.get(dir + ".trash")
    if (Files.exists(trash)) deleteTree(trash)
    Files.createDirectories(trash)
    touched.foreach { k =>
      val live = Paths.get(s"$dir/$B=$k")
      val staged = Paths.get(s"$staging/$B=$k")
      if (Files.exists(live)) Files.move(live, trash.resolve(s"$B=$k"))
      // every touched bucket has a staged dir (empty if zero surviving
      // rows — an empty live dir reads as zero rows); the exists check
      // only guards re-entry after a recover already moved it
      if (Files.exists(staged)) Files.move(staged, live)
    }
    deleteTree(Paths.get(staging))
    deleteTree(trash)
    Files.delete(journalPath(dir))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}
