package graft.streaming

import graft.operators.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, get_json_object, lit}
import org.apache.spark.sql.streaming.StreamingQuery

/** X22: a snapshot table AS a streaming SOURCE — tail the manifest log and
  * propagate each newly-committed version downstream (the Delta "table
  * streaming read" shape). Every other stream in the library WRITES into
  * snapshot tables (X13/X15/X19/X21); this closes the loop, so a pipeline
  * can chain table → derived table with no custom change-capture: the
  * commit protocol IS the change capture.
  *
  * The trick is that the log was built for this: manifests are immutable
  * JSON files with monotone names, which is exactly what Spark's file
  * source knows how to tail exactly-once (checkpointed file tracking). So
  * the source needs no custom `Source` implementation — `readStream` over
  * `_log/` delivers each manifest once, and the batch handler turns a
  * manifest span into the NET row feed via [[SnapshotTable.changesBetween]]
  * (file-diff grain: cost ~ churned files, never table size) and MERGEs it
  * into the destination snapshot table.
  *
  * Exactly-once destination state from at-least-once delivery, two layers:
  *   - the merge commit is tagged `tail-<hi version>`, checked against the
  *     WHOLE retained destination history ([[SnapshotTable.hasTag]]) — a
  *     replayed batch (crash between merge and checkpoint commit, or even
  *     a DELETED checkpoint, since the tag derives from the source VERSION,
  *     not the batch id) recognizes its published commit and no-ops;
  *   - the feed itself is idempotent by construction: NET change images
  *     applied BY KEY (replace, not increment), so re-applying a span — or
  *     a span that overlaps an applied prefix after checkpoint loss —
  *     converges to the same destination rows instead of double-counting.
  *
  * Contract: the source table is key-unique per version in `keyCols` (the
  * [[SnapshotTable.merge]] discipline — what every maintained table in the
  * library already satisfies). Restores surface as their inverse feed;
  * OPTIMIZE/compaction commits diff to an EMPTY feed and propagate
  * nothing — readers of the destination never see maintenance churn.
  *
  * Scale shape per batch: one manifest-file listing (driver, metadata),
  * one [[SnapshotTable.changesBetween]] whose scan is bounded by the
  * version span's churned files, one R43 merge that rewrites only
  * key-overlapping destination files. A quiet table costs a directory
  * listing per trigger; a 100 TB table with a narrow commit costs exactly
  * that commit's churn. */
object SnapshotTailStream {

  /** One micro-batch: `manifests` rows are the raw JSON lines of newly-seen
    * manifest files; fold the NET feed of their version span into
    * `destTable`. Idempotent under replay and checkpoint loss. */
  def applyBatch(spark: SparkSession, manifests: DataFrame, batchId: Long,
      table: String, keyCols: Seq[String], destTable: String): Unit = {
    import spark.implicits._
    val versions = manifests
      .select(get_json_object(col("value"), "$.version").cast("long").as("v"))
      .filter(col("v").isNotNull).as[Long].collect().sorted
    if (versions.isEmpty) return
    val (lo, hi) = (versions.head, versions.last)
    val tag = s"tail-$hi"
    if (SnapshotTable.hasTag(destTable, tag)) return // replayed span
    // ONE evaluation of the churned-file diff: the emptiness probe and the
    // downstream commit/merge (which itself reads the changeset 2-3×: key
    // collect, anti-join, insert union) all consume the materialized
    // blocks instead of re-running the full-outer diff join per action.
    // Bounded by the span's churn, never table size — same bound the diff
    // itself carries.
    val (feed, feedN) = org.apache.spark.sql.graft.ColumnBridge.localCheckpointCounted(
      SnapshotTable.changesBetween(spark, table, lo - 1, hi, keyCols)
        // merge wants ONE image per key: U_pre is the old image (information
        // the destination replaces anyway), U_post the row to land
        .filter(col("op") =!= "U_pre")
        .withColumn("op",
          org.apache.spark.sql.functions.when(col("op") === "U_post", lit("U"))
            .otherwise(col("op"))))
    try {
      if (feedN == 0) return // maintenance-only span (OPTIMIZE, restore round trip)
      if (SnapshotTable.latestVersion(destTable).isEmpty)
        // bootstrap: the first span's feed is pure inserts (version 0 has no
        // files, so the diff takes the append-only path)
        SnapshotTable.commit(spark, destTable,
          feed.filter(col("op") =!= "D").drop("op"), tag = Some(tag)): Unit
      else
        SnapshotTable.merge(spark, destTable, feed, keyCols, tag = Some(tag)): Unit
    } finally org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(feed)
  }

  /** Tail `table`'s manifest log into `destTable`, one source version per
    * micro-batch. */
  def start(spark: SparkSession, table: String, keyCols: Seq[String],
      destTable: String, checkpointDir: String): StreamingQuery =
    BatchTags.start(spark, s"$table/_log", None, checkpointDir) { (b, id, _) =>
      applyBatch(spark, b, id, table, keyCols, destTable)
    }
}
