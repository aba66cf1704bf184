package graft.streaming

import graft.operators.{SnapshotTable, WebIntake}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** X26: the P17 web-intake chain as a stream — crawl shards (url, text)
  * land in a watched directory; every micro-batch runs the FULL intake
  * order (URL dedup against the corpus's url_hash column, T26
  * normalization, T22 quality rules, content dedup against content_hash)
  * and Appends its survivors atomically. X23 is this loop with exact
  * dedup only; X26 is the one a crawler actually needs — refetches die on
  * the URL column before any content work, and recrawls that differ only
  * by encoding mess die on the normalized-content hash.
  *
  * Exactly-once, replay, ordering: identical to X23 — batch-id tags make
  * redelivery a no-op, the commit protocol makes each landing atomic, and
  * first-arrival-wins means batch order decides winners exactly as crawl
  * arrival order does. Downstream artifacts chain off the commit log
  * (X22) as ever.
  *
  * Per-batch cost: |batch| texts canonicalized/normalized/profiled (pure
  * codegen'd projections) + two narrow hash-column scans of the corpus —
  * flat in corpus text volume, the P14 scale argument doubled. */
object WebIntakeStream {

  /** One micro-batch: batch-tagged [[WebIntake.intake]]. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      table: String, urlCol: String, textCol: String, idCol: String,
      minWords: Int = 15, namespace: String = ""): Unit = {
    if (!batch.isEmpty)
      WebIntake.intake(spark, table, batch, urlCol, textCol, idCol,
        minWords,
        tag = Some(BatchTags.tag(namespace, s"intake-batch-$batchId"))): Unit
  }

  /** Watch `inDir` for parquet crawl shards carrying (url, text). */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      urlCol: String, textCol: String, idCol: String, table: String,
      checkpointDir: String, minWords: Int = 15): StreamingQuery = {
    require(SnapshotTable.latestVersion(table).nonEmpty,
      s"bootstrap $table before tailing crawl shards into it")
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyBatch(spark, b, id, table, urlCol, textCol, idCol, minWords, ns)
    }
  }
}
