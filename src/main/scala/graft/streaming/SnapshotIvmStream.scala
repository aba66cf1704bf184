package graft.streaming

import graft.operators.{SnapshotIvm, SnapshotTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** X15: streaming base-table maintenance WITH its rollup — CDC changeset
  * shards land in a watched directory; each micro-batch MERGEs them into a
  * snapshot base table (R43: only files that can hold changed keys
  * rewrite) and then brings the X14 materialized rollup current, reading
  * only the files that batch changed (R44). The MV a dashboard reads —
  * possibly through R45's auto-rewrite — thus tracks a live CDC stream
  * end-to-end, with every link in the chain an atomic snapshot commit.
  *
  * Exactly-once table state from at-least-once foreachBatch, per link:
  *   - the MERGE commit is TAGGED with the batch id (the X13 discipline) —
  *     a replayed batch whose tag already heads the base log skips the
  *     merge instead of double-applying it;
  *   - the MV refresh is idempotent by construction: its manifest tag
  *     records the base version it reflects, so a replay (or a crash
  *     between merge and refresh, repaired on the next batch) folds
  *     exactly the missed versions — never twice, never a gap. A crash at
  *     ANY point leaves a state the next attempt completes correctly.
  *
  * Scale shape per batch: merge cost ~ churned files (R42 stats confine
  * the rewrite), refresh cost ~ changed files + |groups| state rows; the
  * base is never rescanned after bootstrap. Changeset rows carry the base
  * schema plus `op` ∈ I/U/D, at most one image per key per batch (the
  * [[SnapshotTable.merge]] contract; partition a heavier feed upstream).
  */
object SnapshotIvmStream {

  /** One micro-batch: tagged merge (replay-skipped), then rollup refresh. */
  def applyBatch(spark: SparkSession, changes: DataFrame, batchId: Long,
      baseTable: String, mvTable: String, rowKeys: Seq[String],
      groupKeys: Seq[String], sumCols: Seq[String],
      namespace: String = ""): Unit = {
    val tag = BatchTags.tag(namespace, s"batch-$batchId")
    // tag HISTORY, not just the head: a foreign commit (OPTIMIZE, a manual
    // merge) between the batch's commit and its replay must not hide the
    // published tag and let the merge double-apply
    if (!SnapshotTable.hasTag(baseTable, tag) && !changes.isEmpty)
      SnapshotTable.merge(spark, baseTable, changes, rowKeys, tag = Some(tag)): Unit
    SnapshotIvm.refresh(spark, baseTable, mvTable, rowKeys, groupKeys,
      sumCols): Unit
  }

  /** Watch `inDir` for parquet changeset shards (schema = base columns +
    * `op`); maintain `baseTable` and its `mvTable` rollup per batch.
    * `baseTable` must already hold a committed version ([[SnapshotTable
    * .commit]] the bootstrap state first). */
  def start(spark: SparkSession, inDir: String, baseTable: String,
      mvTable: String, checkpointDir: String, schema: StructType,
      rowKeys: Seq[String], groupKeys: Seq[String],
      sumCols: Seq[String]): StreamingQuery =
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyBatch(spark, b, id, baseTable, mvTable, rowKeys, groupKeys, sumCols, ns)
    }
}
