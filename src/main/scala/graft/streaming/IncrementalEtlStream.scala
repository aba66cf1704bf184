package graft.streaming

import graft.operators.SnapshotTable
import graft.wikidata.{IncrementalEtl, Surface, WikidataTables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** X12: continuous incremental ingestion — the production refresh loop the
  * reference cannot run at all (it rebuilds from a full dump every time,
  * src/main.rs:98-104): entity-revision changeset shards land in a watched
  * directory, each micro-batch applies them to the published tables with
  * W22's LWW semantics, and every table version is an atomic R40 snapshot
  * commit.
  *
  * Cross-batch LWW is the part W22's within-batch `max_by` cannot see: a
  * stale revision arriving in a LATER batch must lose to the newer one
  * already applied. The guard is a ninth snapshot table, `revisions`
  * (id, lastrevid) — the per-entity high-water mark, tombstone revids
  * included so a late put cannot resurrect a deleted entity. Batch winners
  * are admitted only when their revid exceeds the mark; equal revids are
  * rejected, which makes a replayed batch (foreachBatch is at-least-once)
  * a content no-op — crash-recovery idempotency by construction, X8's
  * discipline without bespoke state. A corollary: ANY partition of a
  * changeset into batches, in ANY order, converges to the same final
  * tables.
  *
  * Scale shape per batch: winners are batch-bounded and broadcast; the
  * guard is an inner probe of the revisions table against that broadcast
  * plus an anti-join of the winners against the stale matches (both
  * map-only — the table never shuffles), and the eight merges are W22's
  * broadcast anti-joins. Every non-empty batch commits all nine tables
  * exactly once, so version numbers stay aligned across tables: "read
  * every table at version V" is a consistent cross-table cut, which is
  * how a reader escapes the per-table-only atomicity of the commits.
  */
object IncrementalEtlStream {

  /** Publish initial full-ETL tables as version 1 of each snapshot table,
    * plus an empty `revisions` mark (full-dump entities carry rev 0: any
    * changeset revision outranks them). Works unchanged for every
    * [[Surface]] — `byName` carries whatever the bootstrap run produced
    * (X29 streams the full surface by bootstrapping with a run over a
    * [[Surface.Full]] parse). */
  def bootstrap(spark: SparkSession, tableRoot: String, tables: WikidataTables): Unit = {
    tables.core.foreach(_.count()) // materialize the shared cache once
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lastrevid", org.apache.spark.sql.types.LongType))))
    SnapshotTable.commitAll(spark,
      tables.byName.toSeq.map { case (n, df) => s"$tableRoot/$n" -> df } :+
        (s"$tableRoot/revisions" -> empty))
  }

  /** One micro-batch: frame the lines, resolve within-batch winners, admit
    * only revisions above the persisted high-water mark, merge + commit.
    * Empty or fully-stale batches commit nothing (version alignment across
    * tables is preserved because NO table commits).
    *
    * X29 (`surface = Surface.Full`): the same loop over the COMPLETE
    * 13-table surface — the changeset parses with the full schema (links +
    * qualifiers carried through), and W55's law makes the merge identical
    * in shape: sitelinks and aliases are id-keyed, so the broadcast
    * anti-join covers them with zero extra shuffles of base data.
    *
    * X30 (`anyNameIndex = Some(path)`, requires `Surface.Full`): the W56 fuzzy
    * ANY-name index maintained IN the refresh loop — after the data tables
    * commit, ONE batch-tagged Append of the touched entities' current
    * names' variant rows lands on the index (W57's law: stale variants
    * self-neutralize at the exact verify, so appends alone keep lookups
    * exact). Ordering is the crash contract: data tables → index delta →
    * revisions mark. A crash before the mark replays the whole batch — the
    * index append is then skipped by ITS OWN tag, and the mark-guarded
    * tables by theirs — so every surface converges exactly once. */
  def applyBatch(spark: SparkSession, lines: DataFrame, tableRoot: String,
      surface: Surface = Surface.Core, anyNameIndex: Option[String] = None,
      batchTag: Option[String] = None): Unit = {
    require(anyNameIndex.isEmpty || surface == Surface.Full,
      "anyNameIndex maintenance needs the full surface (aliases): pass Surface.Full")
    // cached: the winners frame feeds the stale probe, the admitted set,
    // the touched-id anti-joins and the revision marks
    val win = IncrementalEtl.winners(IncrementalEtl.changesFrom(lines, surface)).cache()
    val revPath = s"$tableRoot/revisions"
    val current = SnapshotTable.read(spark, revPath)
    // map-only guard, formulated so the broadcast side is always the inner
    // side of a supported BroadcastHashJoin shape (an outer join that KEEPS
    // the broadcast side cannot broadcast): the revisions table probes the
    // batch winners inner (matches are winner-bounded), the at-or-below-mark
    // matches become the stale set, and winners anti-join it — unmarked
    // entities (no revisions row) pass untouched, i.e. mark 0
    val stale = current.withColumnRenamed("lastrevid", "__cur")
      .join(broadcast(win), Seq("id"))
      .filter(coalesce(col("c.lastrevid"), lit(0L)) <= col("__cur"))
      .select("id")
    val guarded = win.join(broadcast(stale), Seq("id"), "left_anti").cache()
    try {
      if (!guarded.isEmpty) {
        val base = surface.tableNames.map(n =>
          n -> SnapshotTable.read(spark, s"$tableRoot/$n")).toMap
        val next = IncrementalEtl.applyWinners(base, guarded)
        val marks = current
          .join(broadcast(guarded.select("id")), Seq("id"), "left_anti")
          .unionByName(guarded.select(col("id"),
            coalesce(col("c.lastrevid"), lit(0L)).as("lastrevid")))
        try {
          next.commitTo(spark, tableRoot)
          // X30: the index delta lands BETWEEN the data tables and the
          // mark, guarded by its own batch tag — a replay after a crash
          // here re-runs the data commits (mark still old) but skips the
          // already-tagged index append
          anyNameIndex.foreach { idx =>
            val alreadyApplied = batchTag.exists(t =>
              SnapshotTable.tagOf(idx).contains(t))
            if (!alreadyApplied) {
              val touched = guarded.select("id")
              val names = graft.wikidata.QueryApi
                .anyNamesOf(next.meta, next.aliases.get)
                .join(broadcast(touched), Seq("id"), "left_semi")
              graft.operators.EditJoin.appendIndexDelta(spark, idx, names,
                "id", "name", tag = batchTag): Unit
            }
          }
          // the high-water mark commits STRICTLY AFTER the data tables: a
          // crash inside the window replays the batch with the OLD mark, so
          // the re-apply repairs any table the crash left behind (equal
          // revids then reject the second replay). Committing the mark
          // concurrently would let it land first and turn the replay into a
          // no-op with data tables missing the batch forever.
          SnapshotTable.commit(spark, revPath, marks): Unit
        } finally next.unpersist()
      }
    } finally { guarded.unpersist(); win.unpersist(): Unit }
  }

  /** Watch `inDir` for changeset shards; apply each micro-batch to the
    * snapshot tables under `tableRoot` (which must be [[bootstrap]]ped). */
  def start(spark: SparkSession, inDir: String, tableRoot: String,
      checkpointDir: String, surface: Surface = Surface.Core,
      anyNameIndex: Option[String] = None): StreamingQuery =
    BatchTags.start(spark, inDir, None, checkpointDir) { (lines, id, ns) =>
      applyBatch(spark, lines, tableRoot, surface, anyNameIndex,
        Some(BatchTags.tag(ns, id.toString)))
    }
}
