package graft.streaming

import graft.operators.{EditJoin, SnapshotTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** X27: streaming fuzzy-index maintenance (W36 × X13) — label changesets
  * land in a watched directory and each micro-batch Appends ONLY its own
  * variant rows to the W33 store, tagged with the batch id so an
  * at-least-once replay commits nothing twice (the X18 discipline applied
  * to the variant index).
  *
  * The W36 correctness law is what makes the streaming form this small:
  * appends alone keep every lookup exact, because the lookup tail
  * re-verifies candidates against the CURRENT labels frame — stale
  * variants of renamed ids fail the distance bound, deleted ids vanish at
  * the join, and batch boundaries only decide which commit a variant row
  * arrives in, never the answer. No state store, no watermark, no
  * shuffle: one codegen'd variant projection per batch. Fold with
  * [[EditJoin.saveIndex]] (offline, atomic) when the commit count says
  * so — the X18 training/ingestion split, with re-clustering in the
  * training role. */
object StreamingVariantIngest {

  /** One micro-batch of (id, label) rows: Append the variant delta,
    * tagged `namespace#batchId`. hasTag, not latest-tag: a foreign commit
    * (a fold, another writer) landing between delivery and redelivery
    * must not hide the tag and double-append the batch (the X16/X17
    * discipline). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, strCol: String, indexTable: String,
      namespace: String = ""): Unit = {
    val t = BatchTags.tag(namespace, batchId.toString)
    if (SnapshotTable.hasTag(indexTable, t) || batch.isEmpty)
      return
    EditJoin.appendIndexDelta(spark, indexTable, batch, idCol, strCol,
      tag = Some(t)): Unit
  }

  /** Watch `inDir` for parquet label shards; maintain the variant store
    * at `indexTable` (which must already exist — seed it with
    * [[EditJoin.saveIndex]]). */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      idCol: String, strCol: String, indexTable: String,
      checkpointDir: String): StreamingQuery =
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyBatch(spark, b, id, idCol, strCol, indexTable, ns)
    }
}
