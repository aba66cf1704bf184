package graft.wikidata

import graft.SparkSpec
import graft.operators.SnapshotTable
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
