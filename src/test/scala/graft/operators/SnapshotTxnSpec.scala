package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** R50: atomic cross-table transactions — whole-cut visibility, crash
  * atomicity, tagged replay idempotency, CAS, carry-forward of untouched
  * tables. */
class SnapshotTxnSpec extends SparkSpec {
  import spark.implicits._

  private def frame(vals: (Long, String)*) = vals.toSeq.toDF("k", "v")

  test("readers see whole transactions, old cut stays pinned (R50)") {
    val root = graft.Scratch.fresh("txnspec_basic")
    SnapshotTxn.commit(spark, root, Seq(
      "a" -> frame(1L -> "a1"), "b" -> frame(1L -> "b1")))
    SnapshotTxn.commit(spark, root, Seq(
      "a" -> frame(2L -> "a2"), "b" -> frame(2L -> "b2")))
    def cut(txn: Long) = Seq("a", "b").map { t =>
      SnapshotTxn.readAt(spark, root, t, txn).as[(Long, String)].collect().toSet
    }
    cut(1L) shouldBe Seq(Set(1L -> "a1"), Set(1L -> "b1"))
    cut(-1L) shouldBe Seq(Set(2L -> "a2"), Set(2L -> "b2"))
  }

  test("a crash between member commits and txn publish leaves the old cut; tagged replay repairs (R50)") {
    val root = graft.Scratch.fresh("txnspec_crash")
    SnapshotTxn.commit(spark, root, Seq("a" -> frame(1L -> "a1"), "b" -> frame(1L -> "b1")))
    val boom = intercept[RuntimeException] {
      SnapshotTxn.commit(spark, root,
        Seq("a" -> frame(2L -> "a2"), "b" -> frame(2L -> "b2")),
        tag = Some("batch-7"),
        beforePublish = () => throw new RuntimeException("crash before txn publish"))
    }
    boom.getMessage should include("crash")
    // member tables DID advance (dark versions) but the cut did not tear
    SnapshotTable.latestVersion(s"$root/a") shouldBe Some(2L)
    SnapshotTxn.latestTxn(root) shouldBe Some(1L)
    SnapshotTxn.readAt(spark, root, "a").as[(Long, String)].collect().toSet shouldBe
      Set(1L -> "a1")
    // replay of the same tagged batch publishes; the dark versions stay dark
    val txn = SnapshotTxn.commit(spark, root,
      Seq("a" -> frame(2L -> "a2"), "b" -> frame(2L -> "b2")), tag = Some("batch-7"))
    txn shouldBe 2L
    SnapshotTxn.readAt(spark, root, "a").as[(Long, String)].collect().toSet shouldBe
      Set(2L -> "a2")
    // a second replay is a pure no-op: same txn id, no new table versions
    val vA = SnapshotTable.latestVersion(s"$root/a").get
    SnapshotTxn.commit(spark, root,
      Seq("a" -> frame(2L -> "a2"), "b" -> frame(2L -> "b2")), tag = Some("batch-7")) shouldBe 2L
    SnapshotTable.latestVersion(s"$root/a") shouldBe Some(vA)
  }

  test("a crashed Append txn replays without doubling the batch (R50)") {
    val root = graft.Scratch.fresh("txnspec_appcrash")
    SnapshotTxn.commit(spark, root, Seq("a" -> frame(1L -> "a1")))
    intercept[RuntimeException] {
      SnapshotTxn.commit(spark, root, Seq("a" -> frame(2L -> "a2")),
        mode = SnapshotTable.Append, tag = Some("app-1"),
        beforePublish = () => throw new RuntimeException("crash"))
    }
    // the dark version's file list already contains batch 2; a replay that
    // resolved Append against the per-table latest would carry it AND
    // write it again — the published cut must hold each row exactly once
    SnapshotTxn.commit(spark, root, Seq("a" -> frame(2L -> "a2")),
      mode = SnapshotTable.Append, tag = Some("app-1"))
    SnapshotTxn.readAt(spark, root, "a").as[(Long, String)].collect().toSeq
      .sorted shouldBe Seq(1L -> "a1", 2L -> "a2")
  }

  test("CAS on the parent txn rejects a racing transaction (R50)") {
    val root = graft.Scratch.fresh("txnspec_cas")
    SnapshotTxn.commit(spark, root, Seq("a" -> frame(1L -> "a1")))
    SnapshotTxn.commit(spark, root, Seq("a" -> frame(2L -> "a2")))
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTxn.commit(spark, root, Seq("a" -> frame(3L -> "a3")),
        expectedTxn = 1L): Unit
    }
  }

  test("a txn that loses the publish race throws and leaves the winner's cut intact (R50)") {
    val root = graft.Scratch.fresh("txnspec_race")
    SnapshotTxn.commit(spark, root, Seq("a" -> frame(1L -> "a1"), "b" -> frame(1L -> "b1")))
    // the competing txn publishes txn 2 while this one is between staging
    // and its own link of txn 2
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTxn.commit(spark, root, Seq("a" -> frame(2L -> "lost")),
        beforePublish = () => {
          SnapshotTxn.commit(spark, root,
            Seq("a" -> frame(3L -> "won"), "b" -> frame(3L -> "b3")))
          ()
        })
    }
    SnapshotTxn.latestTxn(root) shouldBe Some(2L)
    new java.io.File(s"$root/_txnlog").list().filter(_.startsWith(".tmp-")) shouldBe empty
    Seq("a", "b").map { t =>
      SnapshotTxn.readAt(spark, root, t).as[(Long, String)].collect().toSet
    } shouldBe Seq(Set(3L -> "won"), Set(3L -> "b3"))
  }

  test("a txn touching one table carries the others forward (R50)") {
    val root = graft.Scratch.fresh("txnspec_carry")
    SnapshotTxn.commit(spark, root, Seq(
      "a" -> frame(1L -> "a1"), "b" -> frame(1L -> "b1")))
    SnapshotTxn.commit(spark, root, Seq("a" -> frame(2L -> "a2")))
    SnapshotTxn.tableVersions(root) shouldBe Map("a" -> 2L, "b" -> 1L)
    SnapshotTxn.readAt(spark, root, "b").as[(Long, String)].collect().toSet shouldBe
      Set(1L -> "b1")
    // readAt of a never-pinned table names what IS pinned
    val ex = intercept[IllegalArgumentException] {
      SnapshotTxn.readAt(spark, root, "zzz")
    }
    ex.getMessage should include("a, b")
  }

  test("replay checks parse each txn manifest once; a new txn adds only its own parse") {
    val root = graft.Scratch.fresh("txnspec_memo")
    (1 to 30).foreach { i =>
      SnapshotTxn.commit(spark, root, Seq("a" -> frame(i.toLong -> s"a$i")), tag = Some(s"b$i"))
    }
    (1 to 10).foreach(i => SnapshotTxn.hasTag(root, s"b${i * 3}") shouldBe true)
    SnapshotTxn.hasTag(root, "nope") shouldBe false
    SnapshotTxn.txnParsesOf(root) should be <= 30L
    SnapshotTxn.commit(spark, root, Seq("a" -> frame(31L -> "a31")), tag = Some("b31"))
    (1 to 10).foreach(i => SnapshotTxn.hasTag(root, s"b${i * 3 + 1}") shouldBe true)
    SnapshotTxn.txnParsesOf(root) should be <= 31L
  }
}
