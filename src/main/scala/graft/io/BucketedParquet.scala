package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Hash-bucketed parquet layout of the keyed stores
  * ([[graft.graph.GraphStore]] vertex and edge tables, [[DocStore]]
  * indices) and the one keyed read-merge-swap path they share. Only
  * this object knows the layout; the stores supply merge rules.
  *
  * Layout: a table is a directory of `__bucket=K` subdirectories with
  * K = murmur3(normalized key strings) % N. The first write records
  * the key columns (`_BUCKET_KEY`) and N (`_NUM_BUCKETS`); from then on
  * the stored N is authoritative over the caller's `numBuckets`, so a
  * store reopened with another count still merges against the right
  * directories. Buckets written at different times may carry different
  * column sets, so every read merges schemas.
  *
  * Writes ([[merge]], [[deleteKeys]]) find the buckets a batch touches
  * (a collect of at most N ids), read only those through partition
  * pruning, and swap only those directories in through a staging dir
  * and a journal ([[recover]]); every other bucket's files stay
  * byte-identical. Rows are repartitioned on the bucket id, so a bucket
  * is one file per write.
  *
  * Cost: a batch of k distinct keys touches about N·(1−(1−1/N)^k) of a
  * table's N buckets, so a rewrite is batch-sized only when k ≪ N; as k
  * nears N it rewrites nearly the whole table. With N = 16, a 108-line
  * late-contribution batch into the FEC stores rewrote 188 of their 192
  * buckets.
  */
object BucketedParquet {

  val B = "__bucket"

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

  private def bucketIds(df: DataFrame): Seq[Int] =
    df.select(col(B)).distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** The whole table with its bucket ids. */
  private def scan(spark: SparkSession, dir: String): Option[DataFrame] = {
    recover(dir)
    if (exists(dir)) Some(spark.read.option("mergeSchema", "true").parquet(dir))
    else None
  }

  def readAll(spark: SparkSession, dir: String): Option[DataFrame] =
    scan(spark, dir).map(_.drop(B))

  /** Only the given buckets, with their bucket ids. */
  private def readBuckets(spark: SparkSession, dir: String,
      buckets: Seq[Int]): Option[DataFrame] =
    scan(spark, dir).map(_.filter(col(B).isin(buckets.map(Integer.valueOf): _*)))

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

  /** The last row per key in batch order, as consecutive bulk-API or
    * UNWIND rows hitting one key would leave it: a max_by hash
    * aggregate, one shuffle and no per-key sort. */
  def dedupLastWins(batch: DataFrame, keyCols: Seq[String]): DataFrame = {
    val props = batch.columns.filterNot(keyCols.contains).toSeq
    if (props.isEmpty) batch.dropDuplicates(keyCols)
    else batch.withColumn("__ord", monotonically_increasing_id())
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(props.map(col): _*), col("__ord")).as("__s"))
      .select(keyCols.map(col) ++ props.map(c => col(s"__s.$c").as(c)): _*)
  }

  /** The stored keys in the buckets that `candidates`' keys hash into:
    * a membership probe that reads no other bucket. */
  def storedKeys(spark: SparkSession, dir: String, keyCols: Seq[String],
      candidates: DataFrame, numBuckets: Int): DataFrame = {
    val keys = keyCols.map(col)
    val buckets = touchedBuckets(candidates.select(keys: _*), keyCols,
      layoutBuckets(dir, numBuckets))
    readBuckets(spark, dir, buckets).getOrElse(candidates.limit(0))
      .select(keys: _*)
  }

  /** Keyed read-modify-write: `combine(stored, batch)` gets the stored
    * rows of the buckets `batch`'s keys hash into (None before the
    * table's first write) and returns every row those buckets keep;
    * only they are swapped in. `batch` is persisted for its two
    * evaluations and released before returning. */
  def merge(spark: SparkSession, dir: String, keyCols: Seq[String],
      batch: DataFrame, numBuckets: Int)(
      combine: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    val b = batch.persist()
    try {
      val n = layoutBuckets(dir, numBuckets)
      val touched = touchedBuckets(b, keyCols, n)
      if (touched.nonEmpty) {
        val merged = combine(readBuckets(spark, dir, touched).map(_.drop(B)), b)
        writeBuckets(dir, merged.withColumn(B, bucketOf(keyCols, n)),
          touched, keyCols, n)
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
        readBuckets(spark, dir, candidates)
      } else scan(spark, dir)
    stored.foreach { old =>
      val hit = bucketIds(old.join(keys, matchCols, "left_semi"))
      if (hit.nonEmpty)
        writeBuckets(dir,
          old.filter(col(B).isin(hit.map(Integer.valueOf): _*))
            .join(keys, matchCols, "left_anti"),
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
    * `rows` must carry the bucket-id column [[B]]; `keyCols` and
    * `numBuckets` are recorded when the table is created. */
  private def writeBuckets(dir: String, rows: DataFrame, touched: Seq[Int],
      keyCols: Seq[String], numBuckets: Int): Unit = {
    recover(dir)
    val staging = dir + ".staging"
    rows.repartition(col(B))
      .write.mode("overwrite").partitionBy(B).parquet(staging)
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
