package graft.streaming

import graft.SparkSpec
import graft.operators.SnapshotTable
import graft.wikidata.{DumpReader, IncrementalEtl, Surface, WikidataEtl}
import org.apache.spark.sql.DataFrame

/** X12: the streaming refresh loop — cross-batch LWW via the revisions
  * high-water mark (the case W22's within-batch resolution cannot see),
  * content-idempotent replay, and convergence of a sharded changeset stream
  * to the full-rebuild state with version-aligned snapshot commits.
  */
class IncrementalEtlStreamSpec extends SparkSpec {

  private val v1Path = "/root/repo/data/etl_minidump.jsonl"
  private val csPath = "/root/repo/data/etl_changeset.jsonl"
  private val v2Path = "/root/repo/data/etl_minidump_v2.jsonl"

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap

  private def ent(id: String, label: String, rev: Long): String =
    s"""{"id":"$id","lastrevid":$rev,"labels":{"en":{"language":"en","value":"$label"}},"descriptions":{},"claims":{}},"""

  private def tomb(id: String, rev: Long): String =
    s"""{"id":"$id","lastrevid":$rev,"deleted":true},"""

  private def batch(root: String, lines: String*): Unit = {
    import spark.implicits._
    IncrementalEtlStream.applyBatch(spark, lines.toSeq.toDF("value"), root)
  }

  private def metaLabels(root: String): Map[Long, String] =
    SnapshotTable.read(spark, s"$root/meta").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("a stale revision in a LATER batch loses to the applied high-water mark") {
    val root = graft.Scratch.fresh("x12spec_lww")
    IncrementalEtlStream.bootstrap(spark, root,
      WikidataEtl.run(DumpReader.fromLines(spark, Seq("[", ent("Q2", "base", 1), "]")), cache = false))
    batch(root, ent("Q2", "new", 9), ent("Q5", "five", 3))
    batch(root, ent("Q2", "stale", 5), tomb("Q5", 2)) // both below the mark
    metaLabels(root) shouldBe Map(2L -> "new", 5L -> "five")
  }

  test("replaying a batch is a content no-op — no commits, versions unchanged") {
    val root = graft.Scratch.fresh("x12spec_replay")
    IncrementalEtlStream.bootstrap(spark, root,
      WikidataEtl.run(DumpReader.fromLines(spark, Seq("[", "]")), cache = false))
    batch(root, ent("Q1", "one", 4), tomb("Q3", 2))
    val v = SnapshotTable.latestVersion(s"$root/meta")
    val before = metaLabels(root)
    batch(root, ent("Q1", "one", 4), tomb("Q3", 2)) // at-least-once redelivery
    SnapshotTable.latestVersion(s"$root/meta") shouldBe v
    metaLabels(root) shouldBe before
  }

  test("sharded changeset stream converges to the v2 full rebuild, versions aligned") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val in   = graft.Scratch.fresh("x12spec_in")
    val root = graft.Scratch.fresh("x12spec_tables")
    val ckpt = graft.Scratch.fresh("x12spec_ckpt")
    val v1 = WikidataEtl.run(DumpReader.read(spark, v1Path), cache = true)
    IncrementalEtlStream.bootstrap(spark, root, v1)
    v1.unpersist()
    val lines = Files.readAllLines(Paths.get(csPath)).asScala.toSeq
    val quarter = (lines.size + 3) / 4
    lines.grouped(quarter).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(Paths.get(in, f"shard-$i%05d.jsonl"),
        chunk.mkString("\n").getBytes("UTF-8"))
    }
    IncrementalEtlStream.start(spark, in, root, ckpt, maxFilesPerTrigger = 1)
      .awaitTermination()
    val full = WikidataEtl.run(DumpReader.read(spark, v2Path), cache = false)
    for ((name, df) <- full.byName) {
      withClue(s"table $name: ") {
        multiset(SnapshotTable.read(spark, s"$root/$name")) shouldBe multiset(df)
      }
    }
    // every non-empty batch commits all nine tables once: equal versions
    // are a consistent cross-table cut
    val versions = (Surface.Core.tableNames :+ "revisions")
      .map(n => SnapshotTable.latestVersion(s"$root/$n"))
    versions.distinct.size shouldBe 1
  }

  test("any-name index rides the refresh loop; a consumed tag skips the index only (X30)") {
    import graft.operators.{EditJoin, SnapshotTable}
    import graft.wikidata.QueryApi
    val root = graft.Scratch.fresh("x30spec_tables")
    val idx  = graft.Scratch.fresh("x30spec_index")
    def fent(id: String, label: String, alias: String, rev: Long): String =
      s"""{"id":"$id","lastrevid":$rev,"labels":{"en":{"language":"en","value":"$label"}},""" +
      s""""descriptions":{},"claims":{},"aliases":{"en":[{"language":"en","value":"$alias"}]}},"""
    val v1 = WikidataEtl.run(DumpReader.fromLines(spark,
      Seq("[", fent("Q1", "apple", "pomme", 1), "]"),
      Surface.Full), cache = false)
    IncrementalEtlStream.bootstrap(spark, root, v1)
    EditJoin.saveIndex(spark, idx, QueryApi(v1).anyNames, "id", "name", files = 4)
    def currentNames() = QueryApi.anyNamesOf(
      SnapshotTable.read(spark, s"$root/meta"),
      SnapshotTable.read(spark, s"$root/aliases"))
    def lookup(term: String) = EditJoin
      .fuzzyLookupStored(spark, idx, currentNames(), "id", "name", term)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    import spark.implicits._
    // batch 0: Q1 renamed (alias churn too) + a brand-new entity
    IncrementalEtlStream.applyBatch(spark,
      Seq(fent("Q1", "apfel", "mela", 9), fent("Q2", "pear", "poire", 3)).toDF("value"),
      root, Surface.Full, Some(idx), Some("t0"))
    lookup("mela") shouldBe Set((1L, "mela"))   // new alias findable
    lookup("pomme") shouldBe Set.empty          // stale variant self-neutralizes
    lookup("poire") shouldBe Set((2L, "poire")) // new entity findable
    val vIdx = SnapshotTable.latestVersion(idx)
    val vMeta = SnapshotTable.latestVersion(s"$root/meta")
    // full replay of the consumed batch: guard rejects → total no-op
    IncrementalEtlStream.applyBatch(spark,
      Seq(fent("Q1", "apfel", "mela", 9), fent("Q2", "pear", "poire", 3)).toDF("value"),
      root, Surface.Full, Some(idx), Some("t0"))
    SnapshotTable.latestVersion(idx) shouldBe vIdx
    SnapshotTable.latestVersion(s"$root/meta") shouldBe vMeta
    // crash-window form: a NEW batch arriving under the index's consumed
    // tag (data commits re-ran, index append already landed) must apply
    // the tables but skip the index — and the lookup STAYS exact because
    // the verify runs against current names
    IncrementalEtlStream.applyBatch(spark,
      Seq(fent("Q3", "plum", "prune", 4)).toDF("value"),
      root, Surface.Full, Some(idx), Some("t0"))
    SnapshotTable.latestVersion(idx) shouldBe vIdx // index skipped by tag
    SnapshotTable.read(spark, s"$root/meta").count() shouldBe 3 // tables applied
    // Q3's names are not yet indexed (no candidates) — a later batch with
    // a fresh tag repairs the index delta
    IncrementalEtlStream.applyBatch(spark,
      Seq(fent("Q3", "plum", "prune", 5)).toDF("value"),
      root, Surface.Full, Some(idx), Some("t1"))
    lookup("prune") shouldBe Set((3L, "prune"))
  }

  test("full-surface sharded stream converges to the v2 13-table rebuild (X29)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val in   = graft.Scratch.fresh("x29spec_in")
    val root = graft.Scratch.fresh("x29spec_tables")
    val ckpt = graft.Scratch.fresh("x29spec_ckpt")
    val v1 = WikidataEtl.run(DumpReader.read(spark, v1Path, Surface.Full), cache = true)
    IncrementalEtlStream.bootstrap(spark, root, v1)
    v1.unpersist()
    val lines = Files.readAllLines(Paths.get(csPath)).asScala.toSeq
    val third = (lines.size + 2) / 3
    lines.grouped(third).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(Paths.get(in, f"shard-$i%05d.jsonl"),
        chunk.mkString("\n").getBytes("UTF-8"))
    }
    IncrementalEtlStream.start(spark, in, root, ckpt, maxFilesPerTrigger = 1,
      surface = Surface.Full).awaitTermination()
    val full = WikidataEtl.run(DumpReader.read(spark, v2Path, Surface.Full), cache = false)
    full.byName.keySet shouldBe Surface.Full.tableNames.toSet
    for ((name, df) <- full.byName) {
      withClue(s"table $name: ") {
        multiset(SnapshotTable.read(spark, s"$root/$name")) shouldBe multiset(df)
      }
    }
    val versions = (Surface.Full.tableNames :+ "revisions")
      .map(n => SnapshotTable.latestVersion(s"$root/$n"))
    versions.distinct.size shouldBe 1
  }
}
