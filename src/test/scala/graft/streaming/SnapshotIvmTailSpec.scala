package graft.streaming

import graft.SparkSpec
import graft.operators.{SnapshotIvm, SnapshotTable}
import org.apache.spark.sql.functions._

/** X24: the log-tailed MV — version-by-version following ≡ straight-to-
  * latest, replayed and out-of-order wake-ups no-op, end-to-end stream. */
class SnapshotIvmTailSpec extends SparkSpec {
  import spark.implicits._

  private def history(name: String): String = {
    val t = graft.Scratch.fresh(name)
    SnapshotTable.commit(spark, t,
      (0L until 400L).map(i => (i, i % 5, i)).toDF("k", "g", "v")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"))
    val upd = (0L until 400L by 8L).map(i => (i, i % 5, i + 1000000L, "U"))
      .toDF("k", "g", "v", "op")
    val del = (0L until 400L by 10L).filter(_ % 8 != 0)
      .map(i => (i, i % 5, 0L, "D")).toDF("k", "g", "v", "op")
    SnapshotTable.merge(spark, t, upd.unionByName(del), Seq("k"))
    SnapshotTable.commit(spark, t, (400L until 500L).map(i => (i, i % 5, i)).toDF("k", "g", "v"),
      mode = SnapshotTable.Append)
    t
  }

  private def rollup(t: String): Map[Long, (Long, Long)] =
    SnapshotTable.read(spark, t).select("g", "n", "sum_v")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  private def recompute(base: String): Map[Long, (Long, Long)] =
    SnapshotTable.read(spark, base).groupBy("g")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  private def manifests(vs: Long*) =
    vs.map(v => s"""{"version":$v}""").toDF("value")

  test("version-by-version tail ≡ straight-to-latest refresh ≡ recompute (X24)") {
    val base = history("ivmtail_eq")
    val mvA = graft.Scratch.fresh("ivmtail_eq_a")
    val mvB = graft.Scratch.fresh("ivmtail_eq_b")
    for (v <- 1L to 3L)
      SnapshotIvmTail.applyBatch(spark, manifests(v), v, base, mvA,
        Seq("k"), Seq("g"), Seq("v"))
    SnapshotIvm.refresh(spark, base, mvB, Seq("k"), Seq("g"), Seq("v"))
    SnapshotTable.versions(mvA) shouldBe Seq(1L, 2L, 3L)
    SnapshotTable.versions(mvB) shouldBe Seq(1L)
    rollup(mvA) shouldBe recompute(base)
    rollup(mvB) shouldBe rollup(mvA)
    SnapshotIvm.reflectedVersion(mvA) shouldBe 3L
  }

  test("replayed and out-of-order wake-ups land nothing (X24)") {
    val base = history("ivmtail_replay")
    val mv = graft.Scratch.fresh("ivmtail_replay_mv")
    for (v <- 1L to 3L)
      SnapshotIvmTail.applyBatch(spark, manifests(v), v, base, mv,
        Seq("k"), Seq("g"), Seq("v"))
    val done = SnapshotTable.versions(mv)
    SnapshotIvmTail.applyBatch(spark, manifests(2L), 99L, base, mv,
      Seq("k"), Seq("g"), Seq("v")) // stale wake-up
    SnapshotIvmTail.applyBatch(spark, manifests(3L), 100L, base, mv,
      Seq("k"), Seq("g"), Seq("v")) // replayed head
    SnapshotTable.versions(mv) shouldBe done
    rollup(mv) shouldBe recompute(base)
  }

  test("streamed tail end-to-end over the manifest log (X24)") {
    val base = history("ivmtail_e2e")
    val mv = graft.Scratch.fresh("ivmtail_e2e_mv")
    val ckpt = graft.Scratch.fresh("ivmtail_e2e_ckpt")
    SnapshotIvmTail.start(spark, base, mv, Seq("k"), Seq("g"), Seq("v"),
      ckpt).awaitTermination()
    SnapshotTable.versions(mv) shouldBe Seq(1L, 2L, 3L)
    rollup(mv) shouldBe recompute(base)
  }
}
