package graft.streaming

import graft.operators.{AnnIndexStore, IvfPq, SnapshotTable, SnapshotTxn}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** X18: streaming ANN index maintenance (S9 × X13) — new embedding shards
  * land in a watched directory and each micro-batch is encoded UNDER THE
  * FROZEN published index (cell assignment and PQ codes are pure per-row
  * functions of the vector given the codebooks) and Append-committed to
  * the index's `encoded` table as a one-table [[SnapshotTxn]] tagged with
  * the batch id, so an at-least-once replay commits nothing twice (the
  * X13 exactly-once discipline) and the txn carries the codebooks forward.
  * Searches therefore see whole published batches only, and
  * the maintained store is bit-identical to a batch re-encode of the
  * union — the x18 gate asserts exactly that structurally.
  *
  * This is the standard production split: codebook TRAINING is an offline
  * batch job (S6/S9 — retrain when drift warrants, republish as a new
  * txn), while ingestion is a cheap streaming append — one
  * codegen'd encode projection per batch, no training pass, no shuffle.
  * At 1e9+ vectors that asymmetry is the point: re-building the index per
  * ingest (or buffering for nightly rebuilds) costs training passes and a
  * full-corpus encode; appending codes costs m bytes a row. The encode
  * keys on nothing but the row, so batch boundaries, shard sizes and
  * replays cannot change the published state (StreamingAnnIngestSpec
  * asserts split-independence and replay no-ops).
  */
object StreamingAnnIngest {

  /** One micro-batch: encode under `index`, Append-commit as a tagged txn
    * ([[BatchTags]]-namespaced by the owning query's checkpoint). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, index: IvfPq.Index,
      indexRoot: String, namespace: String = ""): Unit = {
    val tag = BatchTags.tag(namespace, batchId.toString)
    if (SnapshotTxn.hasTag(indexRoot, tag) || batch.isEmpty) return
    SnapshotTxn.commit(spark, indexRoot, Seq("encoded" ->
      SnapshotTable.rightSized(IvfPq.encode(batch, idCol, vecCol, index))),
      mode = SnapshotTable.Append, tag = Some(tag)): Unit
  }

  /** Watch `inDir` for parquet embedding shards; maintain the published
    * index at `indexRoot` (which must already hold a consistent S9
    * triple — the codebooks are loaded ONCE and frozen for the run). */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      idCol: String, vecCol: String, indexRoot: String,
      checkpointDir: String): StreamingQuery = {
    val (index, _) = AnnIndexStore.load(spark, indexRoot)
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyBatch(spark, b, id, idCol, vecCol, index, indexRoot, ns)
    }
  }

  /** ADC search over the maintained store — ≡ `IvfPq.search` over a batch
    * encode of everything ingested, by construction (same codebooks, same
    * per-row encode, candidates from the latest txn's cut). `corpus`
    * supplies the raw vectors for the exact re-rank, as in S6. (A re-build
    * racing an ACTIVE ingest run still requires restarting the stream —
    * the run froze the previous generation's codebooks at start.) */
  def search(spark: SparkSession, indexRoot: String, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int = 5,
      nprobe: Int = 2, shortlist: Int = 64): DataFrame = {
    val (index, encoded) = AnnIndexStore.load(spark, indexRoot)
    IvfPq.search(queries, encoded, corpus, idCol, vecCol, index,
      k = k, nprobe = nprobe, shortlist = shortlist)
  }

  // ---- X20: streaming deletes (S10 × X13) ----

  /** One delete micro-batch: Append-commit the ids to the tombstone
    * table, tagged for replay-skip. Visible to the next
    * [[AnnIndexStore.searchWithDeletes]] with no index rewrite — the
    * takedown/GDPR latency a production store is actually measured on;
    * [[AnnIndexStore.compactDeletes]] folds them in physically on
    * whatever cadence the operator runs. */
  def applyDeleteBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, indexRoot: String, namespace: String = ""): Unit = {
    val tombT = s"$indexRoot/${AnnIndexStore.TombstoneTable}"
    val tag = BatchTags.tag(namespace, s"del-$batchId")
    if (SnapshotTable.hasTag(tombT, tag) || batch.isEmpty) return
    AnnIndexStore.delete(spark, indexRoot, batch.select(idCol),
      tag = Some(tag)): Unit
  }

  /** Watch `inDir` for parquet shards of delete requests (`idCol`). */
  def startDeletes(spark: SparkSession, inDir: String, schema: StructType,
      idCol: String, indexRoot: String, checkpointDir: String): StreamingQuery =
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyDeleteBatch(spark, b, id, idCol, indexRoot, ns)
    }
}
