package graft.streaming

import graft.operators.{AnnIndexStore, IvfPq, SnapshotTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** X18: streaming ANN index maintenance (S9 × X13) — new embedding shards
  * land in a watched directory and each micro-batch is encoded UNDER THE
  * FROZEN published index (cell assignment and PQ codes are pure per-row
  * functions of the vector given the codebooks) and Append-committed to
  * the index's `encoded` snapshot table, tagged with the batch id so an
  * at-least-once replay commits nothing twice (the X13 exactly-once
  * discipline). Searches therefore see whole published batches only, and
  * the maintained store is bit-identical to a batch re-encode of the
  * union — the x18 gate asserts exactly that structurally.
  *
  * This is the standard production split: codebook TRAINING is an offline
  * batch job (S6/S9 — retrain when drift warrants, republish atomically
  * under a new tag), while ingestion is a cheap streaming append — one
  * codegen'd encode projection per batch, no training pass, no shuffle.
  * At 1e9+ vectors that asymmetry is the point: re-building the index per
  * ingest (or buffering for nightly rebuilds) costs training passes and a
  * full-corpus encode; appending codes costs m bytes a row. The encode
  * keys on nothing but the row, so batch boundaries, shard sizes and
  * replays cannot change the published state (StreamingAnnIngestSpec
  * asserts split-independence and replay no-ops).
  */
object StreamingAnnIngest {

  /** One micro-batch: encode under `index`, Append-commit tagged
    * ([[BatchTags]]-namespaced by the owning query's checkpoint). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, index: IvfPq.Index,
      indexRoot: String, namespace: String = ""): Unit = {
    val tag = BatchTags.tag(namespace, batchId.toString)
    // hasTag, not tagOf-of-latest: a foreign commit (e.g. a concurrent
    // OPTIMIZE) landing after the tagged Append must not hide it from a
    // redelivery and double-append the batch (the X16/X17 discipline)
    if (SnapshotTable.hasTag(s"$indexRoot/encoded", tag) ||
      batch.isEmpty) return
    SnapshotTable.commit(spark, s"$indexRoot/encoded",
      SnapshotTable.rightSized(IvfPq.encode(batch, idCol, vecCol, index)),
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
    * per-row encode, candidates from the snapshot state). `corpus` supplies
    * the raw vectors for the exact re-rank, as in S6.
    *
    * The codebooks come from S9's pinned consistent triple, but `encoded`
    * reads at its LATEST version: the stream's tagged Appends deliberately
    * do not re-tag centroids/codebooks (they are immutable within an index
    * generation), so the S9 cut — which pins the newest SHARED tag — would
    * re-surface the pre-stream store and hide every ingested batch. Latest
    * is consistent with the pinned codebooks either way: an Append froze
    * them, and a full re-build overwrites `encoded` under its own shared
    * tag, which then IS the pinned generation. (A re-build racing an
    * ACTIVE ingest run still requires restarting the stream — the run
    * froze the previous generation's codebooks at start.) */
  def search(spark: SparkSession, indexRoot: String, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int = 5,
      nprobe: Int = 2, shortlist: Int = 64): DataFrame = {
    val (index, _) = AnnIndexStore.load(spark, indexRoot)
    val encoded = SnapshotTable.read(spark, s"$indexRoot/encoded")
    IvfPq.search(queries, encoded, corpus, idCol, vecCol, index,
      k = k, nprobe = nprobe, shortlist = shortlist)
  }

  // ---- X20: streaming deletes (S10 × X13) ----

  /** One delete micro-batch: Append-commit the ids to the tombstone
    * table, tagged for replay-skip. Visible to the next [[searchLive]]
    * with no index rewrite — the takedown/GDPR latency a production
    * store is actually measured on; [[AnnIndexStore.compactDeletes]]
    * folds them in physically on whatever cadence the operator runs. */
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

  /** [[search]] with the streamed tombstones honored — candidates
    * anti-joined before the shortlist cut (the S10 rule: full k out,
    * deleted ids never surface), over the maintained latest store. */
  def searchLive(spark: SparkSession, indexRoot: String, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int = 5,
      nprobe: Int = 2, shortlist: Int = 64): DataFrame = {
    val (index, _) = AnnIndexStore.load(spark, indexRoot)
    val live = SnapshotTable.read(spark, s"$indexRoot/encoded")
      .join(AnnIndexStore.tombstones(spark, indexRoot)
        .withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    IvfPq.search(queries, live, corpus, idCol, vecCol, index,
      k = k, nprobe = nprobe, shortlist = shortlist)
  }
}
