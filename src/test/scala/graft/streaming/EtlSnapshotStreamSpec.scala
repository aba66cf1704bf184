package graft.streaming

import graft.SparkSpec
import graft.operators.SnapshotTable
import graft.wikidata.{DumpReader, Surface, WikidataEtl}
import org.apache.spark.sql.DataFrame

/** X13: exactly-once streaming ETL publication — batches append as tagged
  * snapshot commits, replays are per-table no-ops, partially-published
  * batches are repaired, and the drained stream equals the batch ETL. */
class EtlSnapshotStreamSpec extends SparkSpec {

  private val dumpPath = "/root/repo/data/etl_minidump.jsonl"

  private def multiset(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap

  private def ent(id: String, label: String): String =
    s"""{"id":"$id","labels":{"en":{"language":"en","value":"$label"}},"descriptions":{},"claims":{}},"""

  test("sharded snapshot stream ≡ batch ETL; every table tagged with its last batch (X13)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = graft.Scratch.fresh("x13spec_tables")
    val ckpt = graft.Scratch.fresh("x13spec_ckpt")
    val in = graft.Scratch.shards("x13spec_in",
      Files.readAllLines(Paths.get(dumpPath)).asScala.toSeq, 3)
    EtlStream.startSnapshot(spark, in, root, ckpt)
      .awaitTermination()
    val full = WikidataEtl.run(DumpReader.read(spark, dumpPath), cache = false)
    for ((name, df) <- full.byName) {
      withClue(s"table $name: ") {
        multiset(SnapshotTable.read(spark, s"$root/$name")) shouldBe multiset(df)
      }
    }
    full.byName.keys.foreach { n =>
      SnapshotTable.tagOf(s"$root/$n") shouldBe defined
    }
  }

  test("full-surface snapshot stream ≡ batch runFull on all 13 tables, each tagged (X28)") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = graft.Scratch.fresh("x28spec_tables")
    val ckpt = graft.Scratch.fresh("x28spec_ckpt")
    val in = graft.Scratch.shards("x28spec_in",
      Files.readAllLines(Paths.get(dumpPath)).asScala.toSeq, 3)
    EtlStream.startSnapshot(spark, in, root, ckpt,
      surface = Surface.Full).awaitTermination()
    val full = WikidataEtl.run(DumpReader.read(spark, dumpPath, Surface.Full), cache = false)
    full.byName.keySet shouldBe Surface.Full.tableNames.toSet
    for ((name, df) <- full.byName) {
      withClue(s"table $name: ") {
        multiset(SnapshotTable.read(spark, s"$root/$name")) shouldBe multiset(df)
      }
    }
    full.byName.keys.foreach { n =>
      SnapshotTable.tagOf(s"$root/$n") shouldBe defined
    }
  }

  test("full-surface replay is a per-table no-op incl. the links tables (X28)") {
    val root = graft.Scratch.fresh("x28spec_replay")
    val line =
      """{"id":"Q9","labels":{"en":{"language":"en","value":"nine"}},"descriptions":{},""" +
      """"claims":{},"aliases":{"en":[{"language":"en","value":"niner"}]},""" +
      """"sitelinks":{"enwiki":{"site":"enwiki","title":"Nine"}}},"""
    val batch = DumpReader.fromLines(spark, Seq("[", line, "]"), Surface.Full)
    EtlStream.commitBatch(spark, batch, root, batchId = 0L)
    val aliasRows = multiset(SnapshotTable.read(spark, s"$root/aliases"))
    aliasRows.keySet shouldBe Set("[9,en,niner]")
    multiset(SnapshotTable.read(spark, s"$root/sitelinks")).keySet shouldBe
      Set("[9,enwiki,Nine]")
    val versions = Surface.Full.tableNames
      .map(n => n -> SnapshotTable.latestVersion(s"$root/$n")).toMap
    // full replay: every one of the 13 tables already carries tag 0
    EtlStream.commitBatch(spark, batch, root, batchId = 0L)
    Surface.Full.tableNames.foreach { n =>
      SnapshotTable.latestVersion(s"$root/$n") shouldBe versions(n)
    }
    multiset(SnapshotTable.read(spark, s"$root/aliases")) shouldBe aliasRows
  }

  test("a replayed batch is a per-table no-op; a partially-published batch is repaired (X13)") {
    val root = graft.Scratch.fresh("x13spec_replay")
    val batch1 = DumpReader.fromLines(spark, Seq("[", ent("Q1", "one"), "]"))
    EtlStream.commitBatch(spark, batch1, root, batchId = 0L)
    val v = SnapshotTable.latestVersion(s"$root/meta")
    val before = multiset(SnapshotTable.read(spark, s"$root/meta"))
    // full replay: every table already carries tag 0 — nothing commits
    EtlStream.commitBatch(spark, batch1, root, batchId = 0L)
    SnapshotTable.latestVersion(s"$root/meta") shouldBe v
    multiset(SnapshotTable.read(spark, s"$root/meta")) shouldBe before
    // partial crash: batch 1 published only to meta (simulated), then the
    // replay must commit batch 1 to every OTHER table without re-appending
    // to meta
    val batch2 = DumpReader.fromLines(spark, Seq("[", ent("Q2", "two"), "]"))
    val t2 = WikidataEtl.run(batch2, cache = false)
    SnapshotTable.commit(spark, s"$root/meta", t2.meta,
      mode = SnapshotTable.Append, tag = Some("1"))
    EtlStream.commitBatch(spark, batch2, root, batchId = 1L)
    val metaIds = SnapshotTable.read(spark, s"$root/meta")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    metaIds shouldBe Seq(1L, 2L) // no duplicate Q2 row in meta
    SnapshotTable.tagOf(s"$root/string") shouldBe Some("1")
  }
}
