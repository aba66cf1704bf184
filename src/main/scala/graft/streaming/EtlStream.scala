package graft.streaming

import graft.wikidata.{DumpReader, Surface, WikidataEtl}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous dump ingestion — the reference's `bzcat dump.bz2 | wd2sql -`
  * stdin mode (reference: src/main.rs:122-137) as Structured Streaming:
  * watch a directory for dump shards as they land, run the identical ETL
  * column algebra per micro-batch, append to the same 8 parquet tables.
  *
  * `foreachBatch` is the idiomatic multi-sink pattern: one checkpointed
  * stream, eight appends per batch off one cached claim core — exactly the
  * batch pipeline's shape, so batch and streaming cannot drift.
  */
object EtlStream {

  /** Append every landed dump shard's 8 tables under `outDir`. `trigger` is
    * stdin mode's cadence (`EtlStdin`); each firing reads every shard landed
    * since the last one. */
  def start(spark: SparkSession, inDir: String, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    BatchTags.start(spark, inDir, None, checkpointDir, Some(trigger)) { (lines, _, _) =>
      val tables = WikidataEtl.run(DumpReader.entities(lines))
      try tables.byName.foreach { case (name, df) =>
        df.write.mode("append").parquet(s"$outDir/$name")
      } finally tables.unpersist() // bounded memory across micro-batches
    }

  /** X13: the same ingestion, published EXACTLY-ONCE through one
    * [[graft.operators.SnapshotTxn]] per batch. [[start]]'s bare
    * `mode("append")` has two holes at scale: a reader racing a batch lists
    * half its files, and foreachBatch's at-least-once replay appends the
    * whole batch AGAIN after a crash. Here each batch Append-commits every
    * table in one txn tagged with the micro-batch id: readers resolving
    * through the txn only ever see whole published batches, a replay of a
    * published batch is skipped by its tag, and a crash that staged only
    * some tables is repaired by the replay's txn, which appends onto the
    * last published cut and so never doubles a table.
    * At-least-once delivery + idempotent tagged publication = exactly-once
    * table state, X8's discipline at the table-format layer.
    *
    * X28 (`surface = Surface.Full`): the same exactly-once publication over
    * the COMPLETE 13-table surface — every table the W54 one-pass run
    * produces, off one cached batch parse, in the same txn. The scale shape
    * is unchanged — the extra tables are explodes of the SAME cached batch
    * parse, so the full surface costs five more appends per batch, never a
    * second dump scan. */
  def startSnapshot(spark: SparkSession, inDir: String, tableRoot: String,
      checkpointDir: String, surface: Surface = Surface.Core): StreamingQuery =
    BatchTags.start(spark, inDir, None, checkpointDir) { (lines, id, ns) =>
      commitBatch(spark, DumpReader.entities(lines, surface), tableRoot, id, ns)
    }

  /** One micro-batch of [[startSnapshot]], exposed for direct replay tests:
    * publishes every table of the batch's parsed [[Surface]]. */
  def commitBatch(spark: SparkSession, parsedBatch: org.apache.spark.sql.DataFrame,
      tableRoot: String, batchId: Long, namespace: String = ""): Unit = {
    import graft.operators.{SnapshotTable, SnapshotTxn}
    val tag = BatchTags.tag(namespace, batchId.toString)
    // tag check FIRST (a stat per retained txn): a replayed batch must not
    // pay the batch ETL for a guaranteed no-op
    if (SnapshotTxn.hasTag(tableRoot, tag)) return
    val tables = WikidataEtl.run(parsedBatch)
    try tables.commitTo(spark, tableRoot, mode = SnapshotTable.Append, tag = Some(tag))
    finally tables.unpersist()
  }
}
