package graft.streaming

import graft.operators.SnapshotTxn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataTypes, StructType}

/** X19: exactly-once streaming ingest across MULTIPLE tables — X13's
  * tagged-commit discipline lifted onto R50 transactions. Each micro-batch
  * maintains a per-key rollup (`by_key`) AND its global summary (`totals`)
  * and publishes both as ONE [[SnapshotTxn]] tagged with the batch id.
  *
  * Why the txn matters here: with per-table tagged commits, a crash
  * between the two publishes exposes `by_key` at batch n while `totals`
  * still reads batch n-1 — every consumer has to reconcile the skew, and
  * a per-table repair pass would have to re-level it. Under the txn log
  * that window is gone by construction: member versions staged by a
  * crashed batch stay dark, readers keep the previous consistent cut, and
  * the replayed batch (same tag) either finds the published txn and
  * no-ops or re-stages and publishes whole. The invariant "totals ≡
  * aggregate of by_key" holds at EVERY published txn, not just at rest.
  *
  * Exactness: batch partials sum `valCol` as DECIMAL(18,2) and the state
  * carries DECIMAL(28,2) — cross-batch accumulation is exact integer
  * arithmetic, so the maintained rollup equals the one-shot batch
  * aggregate bit-for-bit regardless of how the stream was sharded.
  * State cost per batch: one shuffle on the key column over
  * |state| + |batch| rows — the standard IVM upsert shape. */
object StreamingTxnIngest {

  private val StateDec = DataTypes.createDecimalType(28, 2)

  /** One micro-batch: partial-agg → merge into the last PUBLISHED cut →
    * one tagged txn publishing both tables. Replayed batches (tag already
    * in the txn log) skip entirely — including the crash-replay case,
    * where the previous attempt's dark member versions are ignored
    * because the merge reads through [[SnapshotTxn.readAt]], never the
    * per-table latest. */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      keyCol: String, valCol: String, root: String,
      beforePublish: () => Unit = () => (),
      namespace: String = ""): Unit = {
    val tag = BatchTags.tag(namespace, s"batch-$batchId")
    if (SnapshotTxn.hasTag(root, tag) || batch.isEmpty) return
    val part = batch.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col(valCol).cast(DataTypes.createDecimalType(18, 2))).as("s"))
      .select(col("k"), col("n"), col("s").cast(StateDec).as("s"))
    val prev = SnapshotTxn.latestTxn(root) match {
      case Some(t) => SnapshotTxn.readAt(spark, root, "by_key", t)
      case None    => part.limit(0)
    }
    val merged = prev.unionByName(part).groupBy("k")
      .agg(sum(col("n")).as("n"), sum(col("s")).cast(StateDec).as("s"))
      .cache() // pin: both member commits and totals must see ONE evaluation
    try {
      val totals = merged.agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_keys"), sum(col("s")).cast(StateDec).as("s"))
      SnapshotTxn.commit(spark, root,
        Seq("by_key" -> merged, "totals" -> totals),
        tag = Some(tag), beforePublish = beforePublish): Unit
    } finally merged.unpersist(): Unit
  }

  /** Watch `inDir` for parquet shards; maintain the transactional rollup
    * state under `root` per micro-batch. */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      keyCol: String, valCol: String, root: String,
      checkpointDir: String): StreamingQuery =
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyBatch(spark, b, id, keyCol, valCol, root, namespace = ns)
    }

  /** The state at one consistent cut (default: latest txn): per-key rows
    * plus a `__total` summary row, every number from the SAME txn. */
  def current(spark: SparkSession, root: String, txn: Long = -1L): DataFrame =
    SnapshotTxn.readAt(spark, root, "by_key", txn)
      .select(col("k").cast("string").as("key"), col("n"),
        col("s").cast("double").as("total"))
      .unionAll(SnapshotTxn.readAt(spark, root, "totals", txn)
        .select(lit("__total").as("key"), col("n_rows").as("n"),
          col("s").cast("double").as("total")))
}
