package graft.streaming

import graft.operators.SnapshotDv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** X21: streaming merge-on-read deletes (R53 × X13) — delete requests
  * (key shards from a takedown queue, a GDPR pipeline, an upstream CDC
  * delete feed) land in a watched directory; each micro-batch records its
  * keys' (file, position) tombstones through [[SnapshotDv.deleteKeys]]
  * with a batch-id tag, so an at-least-once redelivery appends nothing
  * twice and the delete is VISIBLE to the next merge-on-read scan with
  * zero data files rewritten. [[SnapshotDv.fold]] runs on the operator's
  * cadence exactly as in S10/X20 — the streaming layer only ever appends
  * id-sized tombstones, which is what makes per-request delete latency
  * flat at any table size. */
object StreamingMorDeletes {

  /** One micro-batch: semi-join positions, tagged Append, replay-skipped
    * ([[BatchTags]]-namespaced by the owning query's checkpoint). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      keyCol: String, table: String, namespace: String = ""): Unit = {
    val tag = BatchTags.tag(namespace, s"del-$batchId")
    if (SnapshotDv.hasTag(table, tag) || batch.isEmpty) return
    SnapshotDv.deleteKeys(spark, table, batch.select(keyCol), keyCol,
      tag = Some(tag)): Unit
  }

  /** Watch `inDir` for parquet shards of delete keys (`keyCol`). */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      keyCol: String, table: String, checkpointDir: String): StreamingQuery =
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyBatch(spark, b, id, keyCol, table, ns)
    }
}
