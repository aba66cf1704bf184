package graft.streaming

import graft.operators.{IncrementalCorpus, SnapshotTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** X23: the P14 crawl-ingest loop as a stream — crawl shards land in a
  * watched directory; each micro-batch is deduped within itself, scrubbed
  * against the corpus's persisted hash column, and its NOVEL documents
  * Append atomically. This is the always-on form of the pipeline: a crawler
  * drops shards whenever it finishes a host, the corpus absorbs them at
  * micro-batch cadence, and every downstream maintained artifact (ANN
  * store, search index, MVs) chains off the commits via X22's log tail.
  *
  * Exactly-once corpus state from at-least-once delivery: the Append is
  * tagged with the batch id and checked against the corpus's whole
  * retained history ([[IncrementalCorpus.refresh]]'s replay guard), so a
  * redelivered batch lands nothing. First-arrival-wins semantics are
  * inherited — which means batch ORDER decides winners exactly as crawl
  * arrival order does in the batch pipeline; the corpus text set is
  * order-independent (P14's split-invariance).
  *
  * Per-batch cost: |batch| texts hashed + one narrow hash-column scan of
  * the corpus — independent of corpus text volume (the P14 scale
  * argument), which is what makes per-shard latency flat as the corpus
  * grows to 100 TB. */
object StreamingCorpusRefresh {

  /** One micro-batch: batch-tagged [[IncrementalCorpus.refresh]]. The
    * corpus table must be bootstrapped first. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      table: String, textCol: String, idCol: String,
      namespace: String = ""): Unit = {
    if (!batch.isEmpty)
      IncrementalCorpus.refresh(spark, table, batch, textCol, idCol,
        tag = Some(BatchTags.tag(namespace, s"crawl-batch-$batchId"))): Unit
  }

  /** Watch `inDir` for parquet crawl shards (document schema). */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      textCol: String, idCol: String, table: String,
      checkpointDir: String): StreamingQuery = {
    require(SnapshotTable.latestVersion(table).nonEmpty,
      s"bootstrap $table before tailing crawl shards into it")
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyBatch(spark, b, id, table, textCol, idCol, ns)
    }
  }
}
