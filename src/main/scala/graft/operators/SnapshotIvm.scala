package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X14: incremental materialized-view maintenance over the table format —
  * R44's change-data-feed driving R31's delta aggregation, with the MV
  * itself a [[SnapshotTable]] whose manifest TAG records the base version
  * it reflects. This closes the loop the pieces left open: R31 maintains a
  * rollup given a changeset someone else must produce; R44 produces exactly
  * that changeset from two base versions; the tag makes the pairing durable
  * and idempotent (the X13 replay discipline applied to view maintenance).
  *
  * Refresh protocol:
  *   1. read the MV's tag → the base version `from` it currently reflects
  *      (no MV yet → 0, the bootstrap);
  *   2. `from == latest` → the MV is current, commit NOTHING (a replayed
  *      or concurrent refresh is a no-op, not a double-apply);
  *   3. otherwise fold `changesBetween(base, from, latest)` into the MV
  *      state via [[IncrementalAgg.applyDelta]] — the feed's `U_pre`/`D`
  *      rows are the delta's deletes and `U_post`/`I` its inserts, the
  *      exact before/after contract R31 documents — and commit the new
  *      state tagged `base-v<latest>`, CAS'd on the observed MV version so
  *      racing refreshers cannot both land.
  *
  * Scale shape: a refresh reads the CHANGED base files (R44's guarantee)
  * plus the MV state — |distinct groups| rows, not |base| rows. The base
  * is rescanned only at bootstrap. At 100 TB with narrow merges, keeping
  * the rollup current costs minutes, not the hours a recompute would; and
  * because the MV is itself a snapshot table, readers pin a version and
  * never observe a half-applied refresh. Sum columns must be exact
  * (integral/DECIMAL) types — [[IncrementalAgg]] rejects doubles, whose
  * accumulation-order drift would break maintained-state equality.
  */
object SnapshotIvm {

  private val TagPrefix = "base-v"

  /** The base version `mvTable` currently reflects (0 = no MV yet). */
  def reflectedVersion(mvTable: String): Long =
    SnapshotTable.latestVersion(mvTable)
      .flatMap(v => SnapshotTable.tagOf(mvTable, v))
      .filter(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toLong)
      .getOrElse(0L)

  /** Bring the (n, sum_<c> per `sumCols`) rollup of `baseTable` grouped by
    * `groupKeys` up to the base's latest version — or exactly `toVersion`
    * when given (X24's log tail follows version-by-version) —
    * incrementally. `rowKeys` identifies base rows for the CDC diff (the
    * base's merge/upsert key). A target at or below the reflected version
    * is a no-op (replayed/out-of-order wake-ups). Returns the MV version
    * now current (committed or already there). */
  def refresh(spark: SparkSession, baseTable: String, mvTable: String,
      rowKeys: Seq[String], groupKeys: Seq[String],
      sumCols: Seq[String], toVersion: Long = -1L): Long = {
    val baseV = SnapshotTable.resolve(baseTable, toVersion)
    // ONE observation of the MV: version, reflected-base tag, and the state
    // read all pin to the same `mvV`. Reading them separately would let a
    // racing refresher land in between — `from` computed against the OLD
    // version, state read from the NEW one, and the CAS (against the new
    // version) would then PASS a double-applied delta instead of failing it.
    val mvV = SnapshotTable.latestVersion(mvTable)
    val from = mvV.flatMap(v => SnapshotTable.tagOf(mvTable, v))
      .filter(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toLong)
      .getOrElse(0L)
    if (from >= baseV) return mvV.getOrElse(0L) // current/ahead: replay no-op
    val state =
      if (mvV.isEmpty)
        // bootstrap: the only full base scan the MV ever takes
        IncrementalAgg.sumState(
          SnapshotTable.read(spark, baseTable, baseV), groupKeys, sumCols)
      else {
        val feed = SnapshotTable.changesBetween(
          spark, baseTable, from, baseV, rowKeys)
        // R44's 4-op feed IS R31's delta contract: pre-images delete,
        // post-images insert
        val asID = feed.withColumn("op",
          when(col("op").isin("U_pre", "D"), "D").otherwise("I"))
        IncrementalAgg.applyDelta(
          SnapshotTable.read(spark, mvTable, mvV.get), asID, groupKeys, "op",
          sumCols)
      }
    SnapshotTable.commit(spark, mvTable, state,
      expectedVersion = mvV.getOrElse(-1L), tag = Some(s"$TagPrefix$baseV"))
  }
}
