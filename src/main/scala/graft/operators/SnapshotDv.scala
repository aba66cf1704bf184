package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** R53: DELETION VECTORS — merge-on-read row-level deletes for
  * [[SnapshotTable]], the Delta/Iceberg v2 shape R43's copy-on-write
  * cannot give: a GDPR-grade "delete these rows NOW" that publishes in
  * O(deleted rows), not O(touched files). The base table's data files are
  * never rewritten; matching rows are recorded as (file, row position)
  * tombstones in a DV snapshot table at `<table>/_dv` (its own manifest
  * log — atomic, versioned, time-travelable), and a merge-on-read scan
  * anti-joins positions back out. Costs move to the read side — the
  * standard write-latency vs read-amplification trade; [[fold]] is the
  * compaction that pays it back down (rewrite survivors, clear DVs), the
  * exact analogue of S10's `compactDeletes`.
  *
  * Positions come from the file source's `_metadata.row_index` — stable
  * for published files because they are immutable (the commit protocol's
  * invariant). DVs key on the FILE PATH, so they follow any version that
  * still references the file (Append/Replace carry-overs) and can never
  * mis-apply to a rewritten file (new name). Corollary, stated loudly:
  * an OPTIMIZE/merge that rewrites files must [[fold]] DVs FIRST —
  * folding is cheap exactly when a rewrite is already being paid for.
  * [[SnapshotTable.optimize]] rewrites verbatim row sets, so run `fold`
  * before it; the spec pins the resurrection hazard this ordering
  * prevents.
  *
  * Scale: the delete pass is one predicate scan emitting (file, pos)
  * pairs — pushdown applies, only matches ship; the MoR anti-join keys on
  * (file, pos) with the DV side typically tiny between folds (broadcast).
  */
object SnapshotDv {

  private def dvTable(table: String): String = s"$table/_dv"

  /** Record every row of `table`'s latest version matching `pred` as
    * deleted. Returns the DV table's new version. Appends are cumulative;
    * re-deleting an already-deleted row is harmless (the MoR anti-join is
    * idempotent). `tag` gives streaming callers replay-skip. */
  def deleteWhere(spark: SparkSession, table: String, pred: Column,
      tag: Option[String] = None): Long = {
    val files = SnapshotTable.filesOf(table)
    val positions = spark.read.parquet(files: _*)
      .select(col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos"), col("*"))
      .filter(pred)
      .select("file", "pos")
    SnapshotTable.commit(spark, dvTable(table), positions, mode = SnapshotTable.Append,
      tag = tag)
  }

  /** [[deleteWhere]] by KEY SET instead of predicate — the streaming /
    * request-queue shape ("delete these ids"): positions come from a
    * semi-join of the base scan against `keys` (first column, broadcast
    * when small), so nothing is collected to the driver and a million-key
    * batch is just a bigger join. */
  def deleteKeys(spark: SparkSession, table: String, keys: DataFrame,
      keyCol: String, tag: Option[String] = None): Long = {
    val files = SnapshotTable.filesOf(table)
    val positions = spark.read.parquet(files: _*)
      .select(col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos"), col("*"))
      .join(keys.select(col(keys.columns.head).as(keyCol)).distinct(),
        Seq(keyCol), "left_semi")
      .select("file", "pos")
    SnapshotTable.commit(spark, dvTable(table), positions, mode = SnapshotTable.Append,
      tag = tag)
  }

  /** Whether a delete batch tagged `tag` is already recorded — the
    * streaming replay check (X21). */
  def hasTag(table: String, tag: String): Boolean =
    SnapshotTable.hasTag(dvTable(table), tag)

  /** The live deletion vector (empty before any delete / after a fold). */
  def vectors(spark: SparkSession, table: String, dvVersion: Long = -1L): DataFrame = {
    val t = dvTable(table)
    val empty = spark.range(0)
      .select(lit("").as("file"), col("id").as("pos")).limit(0)
    if (SnapshotTable.latestVersion(t).isEmpty) empty
    else {
      val df = SnapshotTable.read(spark, t, dvVersion)
      if (df.columns.contains("file")) df.select("file", "pos").distinct() else empty
    }
  }

  /** Merge-on-read scan: the base version's files minus DV'd positions.
    * `version` pins the base cut, `dvVersion` the delete cut — time travel
    * works on both axes independently (read yesterday's table with
    * today's deletes, or today's table before a delete batch). */
  def readMor(spark: SparkSession, table: String, version: Long = -1L,
      dvVersion: Long = -1L): DataFrame = {
    val files = SnapshotTable.filesOf(table, version)
    if (files.isEmpty) return SnapshotTable.read(spark, table, version)
    val scan = spark.read.parquet(files: _*)
      .select(col("_metadata.file_path").as("__dvf"),
        col("_metadata.row_index").as("__dvp"), col("*"))
    scan.join(
        vectors(spark, table, dvVersion)
          .withColumnRenamed("file", "__dvf").withColumnRenamed("pos", "__dvp"),
        Seq("__dvf", "__dvp"), "left_anti")
      .drop("__dvf", "__dvp")
  }

  /** Fold the DVs into the data physically: commit the MoR survivor set as
    * the base table's next version, then clear the DV table. The clear
    * CASes on the DV version observed BEFORE the rewrite, so a delete
    * racing the fold fails the clear loudly instead of being resurrected
    * (the S10 compaction discipline). Run this before any OPTIMIZE/merge
    * that rewrites files — DVs key on file names and do not follow a
    * rewrite. */
  def fold(spark: SparkSession, table: String): Long = {
    val t = dvTable(table)
    val dvV = SnapshotTable.latestVersion(t).getOrElse(-1L)
    val v = SnapshotTable.commit(spark, table, readMor(spark, table))
    if (dvV >= 0)
      SnapshotTable.commit(spark, t,
        spark.range(0).select(lit("").as("file"), col("id").as("pos")).limit(0),
        mode = SnapshotTable.Overwrite, expectedVersion = dvV): Unit
    v
  }
}
