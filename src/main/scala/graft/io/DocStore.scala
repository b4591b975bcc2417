package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

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
  * Every mode is a per-key merge rule over [[BucketedParquet]]'s keyed
  * read-merge-swap path (see its doc for the layout, what a batch
  * rewrites and its jobs per write); batch rows are deduped
  * last-writer-wins on the key. The conflict-retry machinery of the
  * reference dissolves — a batch merge has no concurrent writers.
  */
final class DocStore(spark: SparkSession, baseDir: String,
    numBuckets: Int = 16) {
  import BucketedParquet.{New, Old}

  private def dir(index: String) = s"$baseDir/$index"

  def read(index: String): Option[DataFrame] =
    BucketedParquet.readAll(spark, dir(index))

  /** The stored key values among `candidates`' buckets — the
    * membership probe behind es.exists-style gates. */
  def storedKeys(indexName: String, key: String,
      candidates: DataFrame): DataFrame =
    BucketedParquet.storedKeys(spark, dir(indexName), Seq(key), candidates,
      numBuckets)

  private def merge(index: String, key: String, batch: DataFrame)(
      rule: (StructType, StructType) => Seq[Column]): Unit =
    BucketedParquet.merge(spark, dir(index), Seq(key), batch, numBuckets)(rule)

  /** K1: overwrite-by-id: a batch row replaces the stored row whole. */
  def index(indexName: String, key: String, batch: DataFrame): Unit =
    merge(indexName, key, batch) { (oldF, newF) =>
      (oldF.fieldNames ++ newF.fieldNames.filterNot(oldF.fieldNames.contains))
        .toSeq.map { c =>
          if (!newF.fieldNames.contains(c)) when(New.isNull, Old(c)).as(c)
          else if (!oldF.fieldNames.contains(c)) New(c).as(c)
          else when(New.isNotNull, New(c)).otherwise(Old(c)).as(c)
        }
    }

  /** The reference's `es.exists` guard as a set operation: index ONLY
    * batch rows whose key is not already stored (parents immutable
    * once indexed — the lobbying ingest pattern), so only buckets
    * receiving a new row are rewritten. Returns the actually-inserted
    * rows, pinned with a localCheckpoint because the caller consumes
    * them AFTER the swap has replaced the files the anti-join read. */
  def insertNew(indexName: String, key: String, batch: DataFrame): DataFrame = {
    val deduped = lastWins(batch, key)
    val fresh = deduped
      .join(storedKeys(indexName, key, deduped), Seq(key), "left_anti")
      .localCheckpoint(true)
    merge(indexName, key, fresh) { (oldF, newF) =>
      (oldF.fieldNames ++ newF.fieldNames.filterNot(oldF.fieldNames.contains))
        .toSeq.map { c =>
          if (!newF.fieldNames.contains(c)) Old(c).as(c)
          else if (!oldF.fieldNames.contains(c)) New(c).as(c)
          else when(Old.isNotNull, Old(c)).otherwise(New(c)).as(c)
        }
    }
    fresh
  }

  /** The last row per key in batch order, key first: `insertNew`'s
    * result, which must name the rows it inserts before the merge runs. */
  private def lastWins(batch: DataFrame, key: String): DataFrame = {
    val props = batch.columns.filterNot(_ == key).toSeq
    if (props.isEmpty) batch.dropDuplicates(key)
    else batch.withColumn("__ord", monotonically_increasing_id())
      .groupBy(col(key))
      .agg(max_by(struct(props.map(col): _*), col("__ord")).as("__s"))
      .select(col(key) +: props.map(c => col(s"__s.$c").as(c)): _*)
  }

  /** Delete-by-key — the `es.delete` drain of a deletion queue
    * (`news_articles_ingest_delete_duplicate/main.py:30-37`): remove
    * stored rows whose key appears in `ids`. The keys are materialized
    * first: callers commonly derive `ids` from this index's files,
    * which the delete replaces. */
  def delete(indexName: String, key: String, ids: DataFrame): Unit =
    BucketedParquet.deleteKeys(spark, dir(indexName), Seq(key),
      ids.select(col(key)).distinct().localCheckpoint(true), numBuckets)

  /** K2: doc_as_upsert partial merge; see class doc. Columns: the
    * batch's, then those only stored. */
  def upsert(indexName: String, key: String, batch: DataFrame): Unit =
    merge(indexName, key, batch) { (oldF, newF) =>
      (newF.fieldNames ++ oldF.fieldNames.filterNot(newF.fieldNames.contains))
        .toSeq.map { c =>
          if (!oldF.fieldNames.contains(c)) New(c).as(c)
          else if (!newF.fieldNames.contains(c)) Old(c).as(c)
          else mergeField(c, newF(c).dataType, oldF(c).dataType).as(c)
        }
    }

  /** Field merge: struct → field-wise coalesce(new, old) one level
    * deep; scalar → new when the batch row carries a non-null value. */
  private def mergeField(c: String, newType: DataType,
      oldType: DataType): Column = {
    val n = New(c); val o = Old(c)
    (newType, oldType) match {
      case (st: StructType, oldSt: StructType) =>
        val fields = (st.fieldNames ++
          oldSt.fieldNames.filterNot(st.fieldNames.contains)).distinct
        def fieldType(f: String) =
          st.fields.find(_.name == f).map(_.dataType)
            .getOrElse(oldSt(f).dataType)
        def field(src: Column, s: StructType, f: String) =
          if (s.fieldNames.contains(f)) src.getField(f)
          else lit(null).cast(fieldType(f))
        // every branch must carry the SAME widened struct type: a
        // partial doc (fewer fields) pads its missing fields with
        // typed nulls (the ES partial update never narrows the doc)
        def widen(src: Column, s: StructType) =
          struct(fields.map(f => field(src, s, f).as(f)): _*)
        val mergedStruct = struct(fields.map { f =>
          coalesce(field(n, st, f), field(o, oldSt, f)).as(f)
        }: _*)
        when(n.isNotNull && o.isNotNull, mergedStruct)
          .when(n.isNotNull, widen(n, st)).otherwise(widen(o, oldSt))
      case _ => when(New.isNotNull, coalesce(n, o)).otherwise(o)
    }
  }
}
