package graft.streaming

import graft.operators.SnapshotIvm
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.streaming.StreamingQuery

/** X24: a LIVE materialized view over a snapshot table — X22's log tail
  * driving X14's incremental refresh. X15 maintains base + MV from a
  * changeset DIRECTORY the producer must feed; here there is no feed at
  * all: ANY job committing to the base table (a merge, an ingest, another
  * stream, a human) wakes the view through the manifest log itself, and
  * the MV follows version-by-version. The commit protocol is the
  * notification channel — nothing else to operate.
  *
  * The handler is deliberately thin: [[SnapshotIvm.refresh]] already
  * derives what to fold from the MV's own reflected-version tag and the
  * base log (reads only the CHANGED files via R44), is idempotent under
  * replays, no-ops on out-of-order wake-ups, and CASes its commit — so
  * the stream contributes exactly (a) the exactly-once file-source tail
  * that turns manifests into wake-ups and (b) the batch's version ceiling,
  * which makes the view advance one base version per micro-batch instead
  * of jumping straight to latest (bounded, auditable catch-up; pass the
  * ceiling through at your own cadence for coarser folding — correctness
  * is unaffected either way, a property the spec pins).
  *
  * Per-batch cost: changed base files + |groups| MV rows (X14's bound);
  * a quiet base costs a directory listing per trigger. */
object SnapshotIvmTail {

  /** One micro-batch: refresh the MV up to the batch's highest manifest
    * version (straight to latest when the batch carries none). */
  def applyBatch(spark: SparkSession, manifests: DataFrame, batchId: Long,
      baseTable: String, mvTable: String, rowKeys: Seq[String],
      groupKeys: Seq[String], sumCols: Seq[String]): Unit = {
    import spark.implicits._
    val hi = manifests
      .select(get_json_object(col("value"), "$.version").cast("long").as("v"))
      .filter(col("v").isNotNull).as[Long].collect()
      .maxOption.getOrElse(-1L)
    SnapshotIvm.refresh(spark, baseTable, mvTable, rowKeys, groupKeys,
      sumCols, toVersion = hi): Unit
  }

  /** Tail `baseTable`'s manifest log and keep `mvTable` current. */
  def start(spark: SparkSession, baseTable: String, mvTable: String,
      rowKeys: Seq[String], groupKeys: Seq[String], sumCols: Seq[String],
      checkpointDir: String): StreamingQuery =
    BatchTags.start(spark, s"$baseTable/_log", None, checkpointDir) { (b, id, _) =>
      applyBatch(spark, b, id, baseTable, mvTable, rowKeys, groupKeys, sumCols)
    }
}
