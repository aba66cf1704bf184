package graft.wikidata

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental Wikidata ingestion (SURVEY.md §2.1 W22): apply an
  * entity-revision changeset to the published tables of its [[Surface]]
  * instead of rebuilding them from a full dump.
  *
  * The reference refuses to update an existing output file and rebuilds from
  * scratch every run (reference: src/main.rs:98-104). At 100 TB a full
  * rebuild is days of cluster time, while the daily diff is ~1e-2 of the
  * corpus — so the incremental path is the only viable refresh. The apply
  * is the CDC shape [[graft.operators.Upsert]] establishes, lifted to
  * entity grain: the changeset's entity ids are the merge keys, and each
  * table's delta is delete-all-rows-of-touched-entities then append the
  * re-derived rows — an entity's claims are replaced wholesale, exactly
  * what a new revision means.
  *
  * Semantics: last-writer-wins by `lastrevid` (the dump's revision counter),
  * NOT file order — changesets assembled from parallel fetches carry
  * revisions out of order. Deletion markers (`"deleted": true`) compete on
  * the same axis, so delete-then-recreate and stale-put-after-delete both
  * resolve correctly; on a revid tie the delete wins (conservative: a
  * re-fetch can resurrect, a leaked row cannot un-ship).
  *
  * Scale shape: the winners frame is changeset-bounded, so every per-table
  * anti-join broadcasts the touched-id set — one map-only pass per base
  * table, zero shuffles of base data. Pair with
  * [[graft.operators.SnapshotTable]] (see [[applyCommit]]) for atomic
  * publication per table: readers of a table see its old version until the
  * new version's manifest lands. The tables commit independently, so a
  * crashed apply can leave some at the new version and the rest at the old;
  * a reader that needs a cross-table cut uses [[graft.operators.SnapshotTxn]].
  */
object IncrementalEtl {

  /** The 8 core table names; the benchmark calls it. */
  val tableNames: Seq[String] = Surface.Core.tableNames

  /** The 13 full-surface table names; the benchmark calls it. */
  val tableNamesFull: Seq[String] = Surface.Full.tableNames

  /** Changeset lines → one struct column `c` of `surface`'s changeset
    * schema, framed exactly like a dump ([[DumpReader.entities]]: skip
    * brackets/blank/junk, strip trailing commas, malformed → dropped). */
  def changesFrom(lines: DataFrame, surface: Surface = Surface.Core): DataFrame =
    DumpReader.parse(lines, surface.changeSchema, "c")

  /** Read a changeset file (or directory of shards). */
  def readChangeset(spark: SparkSession, path: String,
      surface: Surface = Surface.Core): DataFrame =
    changesFrom(spark.read.text(path), surface)

  /** LWW winners: one row per encoded entity id — the max-`lastrevid`
    * revision, deletes outranking puts on a tie. One partial-agg `max_by`
    * (map-side combine), no window sort: at daily-diff scale the changeset
    * is millions of rows and this is a single small shuffle. */
  def winners(changes: DataFrame): DataFrame =
    changes
      .select(IdCodec.encodeTextCol(col("c.id")).as("id"), col("c"))
      .filter(col("id").isNotNull)
      .groupBy("id")
      .agg(max_by(col("c"), struct(
        coalesce(col("c.lastrevid"), lit(0L)).as("rv"),
        coalesce(col("c.deleted"), lit(false)).cast("int").as("del"))).as("c"))

  /** Apply a changeset to base tables (keyed by [[WikidataTables.byName]]
    * names). The changeset's [[Surface]] decides the tables: `base` must
    * hold exactly that surface's tables. Returns the next version of every
    * one; call `unpersist()` on the result once sinks are done (the delta
    * core is cached, as in the full ETL). */
  def applyChangeset(base: Map[String, DataFrame], changes: DataFrame): WikidataTables =
    applyWinners(base, winners(changes))

  /** Apply an already-resolved winners frame (`id`, `c`) — one row per
    * entity — to base tables. Split out so the streaming path
    * ([[graft.streaming.IncrementalEtlStream]]) can interpose its
    * cross-batch revision guard between [[winners]] and the merge. */
  def applyWinners(base: Map[String, DataFrame], win: DataFrame): WikidataTables = {
    val surface = Surface.of(win)
    val missing = surface.tableNames.filterNot(base.contains)
    val extra = base.keys.filterNot(surface.tableNames.contains).toSeq.sorted
    require(missing.isEmpty && extra.isEmpty,
      s"a $surface changeset applies to exactly its ${surface.tableNames.size} tables; " +
        s"base is missing [${missing.mkString(", ")}], has extra [${extra.mkString(", ")}]")
    // surviving revisions, reshaped to DumpReader's pruned entity struct so
    // the delta tables come from the SAME routing code as a full rebuild —
    // incremental and full cannot drift
    val survivors = win
      .filter(!coalesce(col("c.deleted"), lit(false)))
      .select(struct(surface.entitySchema.fieldNames.toSeq.map(n => col(s"c.$n").as(n)): _*)
        .as("entity"))
    val delta = WikidataEtl.run(survivors, cache = true)
    val touched = win.select("id")
    WikidataTables(surface.tableNames.map { name =>
      name -> base(name)
        .join(broadcast(touched), Seq("id"), "left_anti")
        .unionByName(delta.byName(name))
    }.toMap, delta.core)
  }

  /** File-level apply: parquet tables at `baseDir` + changeset dump at
    * `changesetPath` → next-version frames of `surface`'s tables. */
  def applyFile(spark: SparkSession, baseDir: String, changesetPath: String,
      surface: Surface = Surface.Core): WikidataTables = {
    val base = surface.tableNames.map(n => n -> spark.read.parquet(s"$baseDir/$n")).toMap
    applyChangeset(base, readChangeset(spark, changesetPath, surface))
  }

  /** Refresh: apply the changeset and commit every table of its surface as
    * the next [[graft.operators.SnapshotTable]] version, all at once
    * ([[WikidataTables.commitTo]]). Each table commits atomically on its
    * own; a crash mid-apply can leave some tables at the new version and the
    * rest at the old ([[graft.operators.SnapshotTxn]] gives a cross-table
    * cut). The winners are resolved once and cached for every table's
    * anti-join and the delta ETL. Returns the committed version per table. */
  def applyCommit(spark: SparkSession, base: Map[String, DataFrame],
      changes: DataFrame, tableRoot: String): Map[String, Long] = {
    val win = winners(changes).cache()
    val next = applyWinners(base, win)
    try next.commitTo(spark, tableRoot)
    finally { next.unpersist(); win.unpersist(): Unit }
  }
}
