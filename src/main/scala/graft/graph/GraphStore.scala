package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.BucketedParquet

/** Property-graph vertex/edge store with Cypher-MERGE semantics over
  * Parquet (SURVEY §1.3, §2.9).
  *
  * One table per node label and per relationship type, keyed by the
  * label's constraint columns (e.g. Candidate→cand_id, Donor→(name,
  * zip_code), Race→5-tuple). `MERGE ... SET` becomes a keyed upsert:
  *
  *  - batch rows are deduped on the key (last-writer-wins inside a
  *    batch, like consecutive UNWIND rows hitting the same node);
  *  - existing rows keep their `uuid`, incoming property values
  *    overwrite (`SET` on every match), properties the batch does not
  *    carry keep their stored values; missing/new keys insert;
  *  - `ON CREATE SET uuid` — the uuid is minted only on first insert.
  *    It is derived deterministically from the identity key (md5-based
  *    UUIDv3-style) instead of a random apoc uuid, which preserves the
  *    reference's "stable once created" contract AND makes replays
  *    byte-identical (stronger idempotency than the original).
  *
  * MERGE and DETACH DELETE go through [[BucketedParquet]]'s keyed
  * read-merge-swap path (`merge`, `deleteKeys`); see its doc for the
  * layout, what a batch rewrites and its jobs per write.
  */
final class GraphStore(spark: SparkSession, baseDir: String,
    numBuckets: Int = 16) {
  import BucketedParquet.{New, Old}

  private def vertexDir(label: String) = s"$baseDir/vertices/$label"
  private def edgeDir(tpe: String) = s"$baseDir/edges/$tpe"

  private def keyUuid(keyCols: Seq[String], kind: String,
      name: String): Column = {
    // deterministic uuid from the identity key: md5 → 8-4-4-4-12.
    // The \u0001 separator is load-bearing: without it, distinct
    // composite keys whose concatenations collide (("ann","ab") vs
    // ("anna","b")) — or a label/key boundary shift — would mint the
    // SAME uuid for different nodes.
    val h = md5(concat_ws("\u0001",
      (lit(kind) +: lit(name) +: BucketedParquet.keyStrings(keyCols)): _*))
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  def readVertices(label: String): Option[DataFrame] =
    BucketedParquet.readAll(spark, vertexDir(label))
  def readEdges(tpe: String): Option[DataFrame] =
    BucketedParquet.readAll(spark, edgeDir(tpe))

  /** MERGE semantics on a keyed table; see class doc. Columns: the
    * batch's, the uuid, then those only stored. The uuid is computed
    * from the key after the shuffle, so the batch never carries it. */
  private def mergeInto(dir: String, keyCols: Seq[String], batch: DataFrame,
      uuidCol: Column): Unit =
    BucketedParquet.merge(spark, dir, keyCols, batch.drop("uuid"),
      numBuckets) { (oldF, newF) =>
      val props = newF.fieldNames.toSeq.map { c =>
        // SET on match: the batch row's value wins when it has one
        if (oldF.fieldNames.contains(c))
          when(New.isNotNull, New(c)).otherwise(Old(c)).as(c)
        else New(c).as(c)
      }
      // ON CREATE: the uuid keeps the stored value
      val uuid = (if (oldF.fieldNames.contains("uuid"))
        coalesce(Old("uuid"), uuidCol) else uuidCol).as("uuid")
      val storedOnly = oldF.fieldNames.toSeq
        .filterNot(c => c == "uuid" || newF.fieldNames.contains(c))
      (props :+ uuid) ++ storedOnly.map(c => Old(c).as(c))
    }

  /** MERGE a vertex batch: `batch` columns = keyCols ++ props. */
  def mergeVertices(label: String, keyCols: Seq[String],
      batch: DataFrame): Unit =
    mergeInto(vertexDir(label), keyCols, batch, keyUuid(keyCols, "v", label))

  /** MERGE an edge batch; identity = the endpoint keys (+ any identity
    * props like `subtype`/`linkage_id` included in keyCols). */
  def mergeEdges(tpe: String, keyCols: Seq[String], batch: DataFrame): Unit =
    mergeInto(edgeDir(tpe), keyCols, batch, keyUuid(keyCols, "e", tpe))

  /** Amendment tombstone (G8): DETACH DELETE by key — remove matching
    * vertices AND any edges in `edgeTypes` referencing them via
    * `edgeKeyCols` (the edge columns holding this label's key). A table
    * is rewritten only in the buckets that lose a row. */
  def detachDelete(label: String, keyCols: Seq[String], keys: DataFrame,
      edges: Seq[(String, Seq[String])]): Unit = {
    val keysD = keys.select(keyCols.map(col): _*).distinct()
      // materialized once: reused to bucket + anti-join several tables
      .localCheckpoint(true)
    BucketedParquet.deleteKeys(spark, vertexDir(label), keyCols, keysD,
      numBuckets)
    edges.foreach { case (tpe, edgeKeyCols) =>
      val renamedKeys = keysD.select(
        keyCols.zip(edgeKeyCols).map { case (k, ek) => col(k).as(ek) }: _*)
      BucketedParquet.deleteKeys(spark, edgeDir(tpe), edgeKeyCols, renamedKeys,
        numBuckets)
    }
  }
}
