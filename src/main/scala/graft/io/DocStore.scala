package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Keyed document store over Parquet with the reference's ES write
  * modes (SURVEY K1/K2):
  *
  *  - `index`: overwrite-by-id (`_op_type: index`, e.g.
  *    `load_elastic_candidates/main.py:50-82`);
  *  - `upsert`: merge-by-key partial update (`update` + `doc_as_upsert`
  *    + retry_on_conflict, e.g. `load_elastic_contributions/
  *    main.py:190-196`): incoming non-null top-level fields replace,
  *    missing fields keep the stored value, and STRUCT fields merge
  *    field-wise one level deep — so a writer that only sets
  *    `context.last_graphed` does not clobber `context.last_indexed`
  *    (exactly how the partial-doc ES update behaves);
  *  - `insertNew`: the `es.exists` insert-only guard;
  *  - `delete`: delete-by-key.
  *
  * Every mode is a merge rule over [[BucketedParquet]]'s keyed
  * read-merge-swap path (see its doc for the layout and what a batch
  * rewrites); batch rows are deduped last-writer-wins on the key. The
  * conflict-retry machinery of the reference dissolves — a batch merge
  * has no concurrent writers.
  */
final class DocStore(spark: SparkSession, baseDir: String,
    numBuckets: Int = 16) {

  private def dir(index: String) = s"$baseDir/$index"

  def read(index: String): Option[DataFrame] =
    BucketedParquet.readAll(spark, dir(index))

  /** The stored key values among `candidates`' buckets — the
    * membership probe behind es.exists-style gates. */
  def storedKeys(indexName: String, key: String,
      candidates: DataFrame): DataFrame =
    BucketedParquet.storedKeys(spark, dir(indexName), Seq(key), candidates,
      numBuckets)

  private def mergeDeduped(index: String, key: String, batch: DataFrame)(
      combine: (Option[DataFrame], DataFrame) => DataFrame): Unit =
    BucketedParquet.merge(spark, dir(index), Seq(key),
      BucketedParquet.dedupLastWins(batch, Seq(key)), numBuckets)(combine)

  /** K1: overwrite-by-id. */
  def index(indexName: String, key: String, batch: DataFrame): Unit =
    mergeDeduped(indexName, key, batch) {
      case (None, deduped) => deduped
      case (Some(old), deduped) =>
        old.join(deduped.select(col(key)), Seq(key), "left_anti")
          .unionByName(deduped, allowMissingColumns = true)
    }

  /** The reference's `es.exists` guard as a set operation: index ONLY
    * batch rows whose key is not already stored (parents immutable
    * once indexed — the lobbying ingest pattern), so only buckets
    * receiving a new row are rewritten. Returns the actually-inserted
    * rows, pinned with a localCheckpoint because the caller consumes
    * them AFTER the swap has replaced the files the anti-join read. */
  def insertNew(indexName: String, key: String, batch: DataFrame): DataFrame = {
    val deduped = BucketedParquet.dedupLastWins(batch, Seq(key))
    val fresh = deduped
      .join(storedKeys(indexName, key, deduped), Seq(key), "left_anti")
      .localCheckpoint(true)
    BucketedParquet.merge(spark, dir(indexName), Seq(key), fresh, numBuckets) {
      case (None, f) => f
      case (Some(old), f) => old.unionByName(f, allowMissingColumns = true)
    }
    fresh
  }

  /** Delete-by-key — the `es.delete` drain of a deletion queue
    * (`news_articles_ingest_delete_duplicate/main.py:30-37`): remove
    * stored rows whose key appears in `ids`. The keys are materialized
    * first: callers commonly derive `ids` from this index's files,
    * which the delete replaces. */
  def delete(indexName: String, key: String, ids: DataFrame): Unit =
    BucketedParquet.deleteKeys(spark, dir(indexName), Seq(key),
      ids.select(col(key)).distinct().localCheckpoint(true), numBuckets)

  /** K2: doc_as_upsert partial merge; see class doc. */
  def upsert(indexName: String, key: String, batch: DataFrame): Unit =
    mergeDeduped(indexName, key, batch) {
      case (None, deduped) => deduped
      case (Some(old), deduped) =>
        val newCols = deduped.columns.filterNot(_ == key).toSeq
        val oldCols = old.columns.filterNot(_ == key).toSeq
        val oldR = old.select(col(key) +: oldCols.map(c => col(c).as(s"__old_$c")): _*)
        val newR = deduped.select(col(key) +:
          (newCols.map(c => col(c).as(s"__new_$c")) :+ lit(1).as("__present")): _*)
        val joined = newR.join(oldR, Seq(key), "full_outer")
        val allCols = (newCols ++ oldCols.filterNot(newCols.contains)).distinct
        val out = allCols.map { c =>
          val hasNew = newCols.contains(c)
          val hasOld = oldCols.contains(c)
          if (hasNew && hasOld)
            mergeField(joined, c).as(c)
          else if (hasNew) col(s"__new_$c").as(c)
          else col(s"__old_$c").as(c)
        }
        joined.select(col(key) +: out: _*)
    }

  /** Field merge: struct → field-wise coalesce(new, old) one level
    * deep; scalar → new when the batch row carries a non-null value. */
  private def mergeField(joined: DataFrame, c: String): Column = {
    val n = col(s"__new_$c"); val o = col(s"__old_$c")
    joined.schema(s"__new_$c").dataType match {
      case st: StructType =>
        val oldSt = joined.schema(s"__old_$c").dataType.asInstanceOf[StructType]
        val fields = (st.fieldNames ++
          oldSt.fieldNames.filterNot(st.fieldNames.contains)).distinct
        def fieldType(f: String) =
          st.fields.find(_.name == f).map(_.dataType)
            .getOrElse(oldSt(f).dataType)
        // every branch must carry the SAME widened struct type: a
        // partial doc (fewer fields) pads its missing fields with
        // typed nulls (the ES partial update never narrows the doc)
        def widen(src: Column, s: StructType) = struct(fields.map { f =>
          (if (s.fieldNames.contains(f)) src.getField(f)
           else lit(null).cast(fieldType(f))).as(f)
        }: _*)
        val mergedStruct = struct(fields.map { f =>
          val nf = if (st.fieldNames.contains(f)) n.getField(f)
            else lit(null).cast(fieldType(f))
          val of = if (oldSt.fieldNames.contains(f)) o.getField(f)
            else lit(null).cast(fieldType(f))
          coalesce(nf, of).as(f)
        }: _*)
        when(n.isNotNull && o.isNotNull, mergedStruct)
          .when(n.isNotNull, widen(n, st)).otherwise(widen(o, oldSt))
      case _ => when(col("__present").isNotNull, coalesce(n, o)).otherwise(o)
    }
  }
}
