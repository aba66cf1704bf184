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

  def start(spark: SparkSession, inDir: String, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val entities = DumpReader.entities(spark.readStream.text(inDir))
    entities.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val tables = WikidataEtl.run(batch.toDF())
        try tables.byName.foreach { case (name, df) =>
          df.write.mode("append").parquet(s"$outDir/$name")
        } finally tables.unpersist() // bounded memory across micro-batches
      }
      .start()
  }

  /** X13: the same ingestion, published EXACTLY-ONCE through R40 snapshot
    * commits. [[start]]'s bare `mode("append")` has two holes at scale: a
    * reader racing a batch lists half its files, and foreachBatch's
    * at-least-once replay appends the whole batch AGAIN after a crash.
    * Here each batch Append-commits every table tagged with the micro-batch
    * id: readers only ever see whole published batches (manifest atomicity),
    * and on replay each table whose LATEST tag already equals this batch id
    * is skipped — per-table, so a crash that published only some tables is
    * repaired by the replay committing exactly the missing ones.
    * At-least-once delivery + idempotent tagged publication = exactly-once
    * table state, X8's discipline at the table-format layer.
    *
    * X28 (`surface = Surface.Full`): the same exactly-once publication over
    * the COMPLETE 13-table surface — every table the W54 one-pass run
    * produces, off one cached batch parse, and the per-table tag law covers
    * all 13: a crash that published only some of them is repaired by the
    * replay committing exactly the missing ones. The scale shape is
    * unchanged — the extra tables are explodes of the SAME cached batch
    * parse, so the full surface costs five more appends per batch, never a
    * second dump scan. */
  def startSnapshot(spark: SparkSession, inDir: String, tableRoot: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 0,
      trigger: Trigger = Trigger.AvailableNow(),
      surface: Surface = Surface.Core): StreamingQuery = {
    val reader = spark.readStream
    if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
    val ns = BatchTags.namespace(checkpointDir)
    val entities = DumpReader.entities(reader.text(inDir), surface)
    entities.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        commitBatch(spark, batch.toDF(), tableRoot, batchId, ns)
      }
      .start()
  }

  /** One micro-batch of [[startSnapshot]], exposed for direct replay tests:
    * publishes every table of the batch's parsed [[Surface]]. */
  def commitBatch(spark: SparkSession, parsedBatch: org.apache.spark.sql.DataFrame,
      tableRoot: String, batchId: Long, namespace: String = ""): Unit = {
    import graft.operators.SnapshotTable
    val tag = BatchTags.tag(namespace, batchId.toString)
    // tag check FIRST (cheap manifest reads — table names are static): a
    // fully-replayed batch must not pay the batch ETL for a guaranteed no-op
    val pendingNames = Surface.of(parsedBatch).tableNames.filter { name =>
      !SnapshotTable.tagOf(s"$tableRoot/$name").contains(tag)
    }
    if (pendingNames.isEmpty) return
    val tables = WikidataEtl.run(parsedBatch)
    try {
      tables.core.foreach(_.count()) // materialize before the fan-out race
      SnapshotTable.commitAll(spark,
        pendingNames.map(name => s"$tableRoot/$name" -> tables.byName(name)),
        mode = SnapshotTable.Append, tag = Some(tag))
    } finally tables.unpersist()
  }
}
