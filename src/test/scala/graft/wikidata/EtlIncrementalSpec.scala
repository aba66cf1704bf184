package graft.wikidata

import graft.SparkSpec
import graft.operators.{SnapshotTable, SnapshotTxn}
import org.apache.spark.sql.DataFrame

/** W22: incremental ingestion — applying an entity-revision changeset to the
  * published tables must be indistinguishable from a full rebuild of the
  * merged dump, under LWW-by-lastrevid semantics (deletion markers included),
  * and the per-table merge must broadcast the touched-id set (base tables
  * never shuffle).
  */
class EtlIncrementalSpec extends SparkSpec {

  private val v1Path = "/root/repo/data/etl_minidump.jsonl"
  private val csPath = "/root/repo/data/etl_changeset.jsonl"
  private val v2Path = "/root/repo/data/etl_minidump_v2.jsonl"

  /** Multiset of rendered rows — claim tables legitimately carry duplicate
    * rows (two identical claims), so set equality is not enough. */
  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap

  private def ent(id: String, label: String, rev: Long): String =
    s"""{"id":"$id","lastrevid":$rev,"labels":{"en":{"language":"en","value":"$label"}},"descriptions":{},"claims":{}},"""

  private def tomb(id: String, rev: Long): String =
    s"""{"id":"$id","lastrevid":$rev,"deleted":true},"""

  /** Builds the v1 base on `surface`, applies the changeset read on the same
    * surface, and checks every table equals a full rebuild of v2. */
  private def incrementalMatchesRebuild(surface: Surface, scratch: String): Unit = {
    val base = graft.Scratch.fresh(scratch)
    WikidataEtl.runFile(spark, v1Path, base, surface = surface)
    val inc = IncrementalEtl.applyFile(spark, base, csPath, surface)
    val full = WikidataEtl.run(DumpReader.read(spark, v2Path, surface), cache = false)
    full.byName.keySet shouldBe surface.tableNames.toSet
    inc.byName.keySet shouldBe surface.tableNames.toSet
    for (name <- full.byName.keys) {
      withClue(s"table $name: ") {
        multiset(inc.byName(name)) shouldBe multiset(full.byName(name))
      }
    }
    inc.unpersist()
  }

  test("incremental apply of (v1, changeset) ≡ full rebuild of v2 — all 8 tables") {
    incrementalMatchesRebuild(Surface.Core, "w22spec_base")
  }

  test("qualified incremental apply ≡ qualified full rebuild of v2 — all 10 tables (W40)") {
    Surface.Qualified.tableNames.size shouldBe 10
    incrementalMatchesRebuild(Surface.Qualified, "w40spec_base")
  }

  test("Full-surface incremental apply ≡ Full rebuild of v2 — all 13 tables") {
    Surface.Full.tableNames.size shouldBe 13
    incrementalMatchesRebuild(Surface.Full, "w54spec_base")
  }

  test("last-writer-wins by lastrevid, not file order; revid tie → delete wins") {
    import spark.implicits._
    val baseLines = Seq("[",
      ent("Q2", "old2", 1), ent("Q3", "old3", 1), ent("Q4", "old4", 1), "]")
    val base = WikidataEtl.run(DumpReader.fromLines(spark, baseLines), cache = false)
    val csLines = Seq("[",
      ent("Q1", "winner", 9), ent("Q1", "stale", 5), // stale revision AFTER the winner
      tomb("Q2", 7), ent("Q2", "stale", 6),          // winning delete, stale put after
      ent("Q3", "reborn", 8), tomb("Q3", 4),         // recreate outranks the delete
      tomb("Q4", 5), ent("Q4", "tied", 5),           // tie → delete wins
      tomb("Q9", 3),                                 // delete of an id base never had: no-op
      "]")
    val next = IncrementalEtl.applyChangeset(base.byName,
      IncrementalEtl.changesFrom(csLines.toDF("value")))
    val labels = next.meta.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    labels shouldBe Map(1L -> "winner", 3L -> "reborn")
    next.unpersist()
  }

  test("per-table merge broadcasts the touched ids — base never shuffles") {
    val base = graft.Scratch.fresh("w22spec_bcast")
    WikidataEtl.runFile(spark, v1Path, base)
    val inc = IncrementalEtl.applyFile(spark, base, csPath)
    val df = inc.string
    df.collect()
    // final AQE plan only (executedPlan.toString appends "== Initial Plan ==")
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"base table shuffled:\n$plan")
    inc.unpersist()
  }

  test("applyCommit publishes atomically — the old snapshot version stays readable") {
    for (surface <- Seq(Surface.Core, Surface.Full)) withClue(s"$surface: ") {
      val root = graft.Scratch.fresh(s"w22spec_snap_$surface")
      val v1 = WikidataEtl.run(DumpReader.read(spark, v1Path, surface), cache = false)
      v1.byName.foreach { case (n, df) => SnapshotTable.commit(spark, s"$root/$n", df) }
      val base = v1.byName.keys.map(n => n -> SnapshotTable.read(spark, s"$root/$n")).toMap
      val versions = IncrementalEtl.applyCommit(spark, base,
        IncrementalEtl.readChangeset(spark, csPath, surface), root)
      versions.keySet shouldBe surface.tableNames.toSet
      versions.values.toSet shouldBe Set(2L)
      // v1 unchanged under the new commit; v2 ≡ a full rebuild of the v2 dump
      multiset(SnapshotTable.read(spark, s"$root/meta", version = 1L)) shouldBe multiset(v1.meta)
      val full = WikidataEtl.run(DumpReader.read(spark, v2Path, surface), cache = false)
      for ((name, df) <- full.byName) withClue(s"table $name: ") {
        SnapshotTable.latestVersion(s"$root/$name") shouldBe Some(2L)
        multiset(SnapshotTable.read(spark, s"$root/$name")) shouldBe multiset(df)
      }
    }
  }

  test("a refresh whose one table fails mid-commit leaves every table at v1 through the txn") {
    val root = graft.Scratch.fresh("w22spec_torn")
    val v1 = WikidataEtl.run(DumpReader.read(spark, v1Path), cache = false)
    v1.commitTo(spark, root)
    // `meta` reads a copy of its v1 rows whose files vanish after planning,
    // so its write fails while the other tables' writes commit
    val doomed = graft.Scratch.fresh("w22spec_torn_meta")
    v1.meta.write.mode("overwrite").parquet(doomed)
    val base = Surface.Core.tableNames.map { n =>
      n -> (if (n == "meta") spark.read.parquet(doomed) else SnapshotTxn.readAt(spark, root, n))
    }.toMap
    java.nio.file.Files.list(java.nio.file.Paths.get(doomed))
      .forEach(f => java.nio.file.Files.delete(f))
    intercept[Exception](IncrementalEtl.applyCommit(spark, base,
      IncrementalEtl.readChangeset(spark, csPath), root))
    // per table, the latest versions are torn: the others moved, meta did not
    SnapshotTable.latestVersion(s"$root/string") shouldBe Some(2L)
    SnapshotTable.latestVersion(s"$root/meta") shouldBe Some(1L)
    // a reader through the txn sees the whole v1 cut
    for ((name, df) <- v1.byName) withClue(s"table $name: ") {
      multiset(SnapshotTxn.readAt(spark, root, name)) shouldBe multiset(df)
    }
  }

  /** An 8-table snapshot root at version 1 of the minidump. */
  private def snapshotRoot(scratch: String): String = {
    val root = graft.Scratch.fresh(scratch)
    val v1 = WikidataEtl.run(DumpReader.read(spark, v1Path), cache = false)
    v1.byName.foreach { case (n, df) => SnapshotTable.commit(spark, s"$root/$n", df) }
    root
  }

  private def snapshots(root: String): Map[String, DataFrame] =
    Surface.Core.tableNames.map(n => n -> SnapshotTable.read(spark, s"$root/$n")).toMap

  test("applyCommit resolves the changeset once: at most 20 jobs, no cache left behind") {
    val root = snapshotRoot("w22spec_jobs")
    val base = snapshots(root)
    val changes = IncrementalEtl.readChangeset(spark, csPath)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val (versions, jobs) = jobsOf(IncrementalEtl.applyCommit(spark, base, changes, root))
    versions.values.toSet shouldBe Set(2L)
    jobs should be <= 20
    spark.sparkContext.getPersistentRDDs.keySet -- persisted shouldBe empty
    IncrementalEtl.winners(changes).storageLevel shouldBe
      org.apache.spark.storage.StorageLevel.NONE
  }

  test("successive applyCommits keep one right-sized file per table and the rebuilt rows") {
    val root = snapshotRoot("w22spec_files")
    val target = 64L << 20
    def bytes(table: String): Long =
      SnapshotTable.filesOf(table).map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
    for (i <- 1 to 10) withClue(s"apply $i: ") {
      val parentBytes = Surface.Core.tableNames.map(n => n -> bytes(s"$root/$n")).toMap
      IncrementalEtl.applyCommit(spark, snapshots(root),
        IncrementalEtl.readChangeset(spark, csPath), root)
      for ((name, b) <- parentBytes) withClue(s"table $name: ") {
        SnapshotTable.latestVersion(s"$root/$name") shouldBe Some(i + 1L)
        SnapshotTable.filesOf(s"$root/$name").size shouldBe ((b + target - 1) / target)
      }
    }
    // re-applying a changeset is idempotent: still the rebuilt v2 rows
    val full = WikidataEtl.run(DumpReader.read(spark, v2Path), cache = false)
    for ((name, df) <- full.byName) withClue(s"table $name: ") {
      multiset(SnapshotTable.read(spark, s"$root/$name")) shouldBe multiset(df)
    }
  }

  test("a changeset whose Surface does not match the base tables fails naming them") {
    val v1 = WikidataEtl.run(DumpReader.read(spark, v1Path), cache = false)
    val missing = intercept[IllegalArgumentException] {
      IncrementalEtl.applyChangeset(v1.byName,
        IncrementalEtl.readChangeset(spark, csPath, Surface.Full))
    }.getMessage
    Seq("qualifiers", "statements", "sitelinks", "aliases", "references")
      .foreach(n => missing should include(n))
    val extra = intercept[IllegalArgumentException] {
      IncrementalEtl.applyChangeset(
        v1.byName + ("aliases" -> v1.meta), IncrementalEtl.readChangeset(spark, csPath))
    }.getMessage
    extra should include("has extra [aliases]")
  }
}
