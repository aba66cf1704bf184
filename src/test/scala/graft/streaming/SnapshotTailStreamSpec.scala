package graft.streaming

import graft.SparkSpec
import graft.operators.SnapshotTable
import org.apache.spark.sql.functions._

/** X22: tailing the manifest log — destination ≡ source latest after a
  * mixed history, span folding, replay/checkpoint-loss idempotency, and
  * maintenance-commit suppression. */
class SnapshotTailStreamSpec extends SparkSpec {
  import spark.implicits._

  private def history(name: String): String = {
    val t = graft.Scratch.fresh(name)
    SnapshotTable.commit(spark, t,
      (0L until 300L).map(i => (i, i * 10)).toDF("k", "v")
        .repartitionByRange(3, col("k")).sortWithinPartitions("k"))
    val upd = (0L until 300L by 6L).map(i => (i, i * 10 + 1, "U")).toDF("k", "v", "op")
    val del = (0L until 300L by 10L).filter(_ % 6 != 0)
      .map(i => (i, 0L, "D")).toDF("k", "v", "op")
    SnapshotTable.merge(spark, t, upd.unionByName(del), Seq("k"))
    SnapshotTable.commit(spark, t, (300L until 400L).map(i => (i, i * 10)).toDF("k", "v"),
      mode = SnapshotTable.Append)
    t
  }

  private def content(t: String): Set[(Long, Long)] =
    SnapshotTable.read(spark, t).as[(Long, Long)].collect().toSet

  private def manifests(vs: Long*) =
    vs.map(v => s"""{"version":$v}""").toDF("value")

  test("streamed tail rebuilds the source's latest content version-by-version (X22)") {
    val src = history("tail_e2e")
    val dst = graft.Scratch.fresh("tail_e2e_dst")
    val ckpt = graft.Scratch.fresh("tail_e2e_ckpt")
    SnapshotTailStream.start(spark, src, Seq("k"), dst, ckpt)
      .awaitTermination()
    SnapshotTable.versions(dst) shouldBe Seq(1L, 2L, 3L)
    content(dst) shouldBe content(src)
    SnapshotTable.tagOf(dst, 3L) shouldBe Some("tail-3")
  }

  test("a multi-version batch folds the NET span in one commit (X22)") {
    val src = history("tail_span")
    val dst = graft.Scratch.fresh("tail_span_dst")
    SnapshotTailStream.applyBatch(spark, manifests(1L, 2L, 3L), 0L, src, Seq("k"), dst)
    SnapshotTable.versions(dst) shouldBe Seq(1L)
    content(dst) shouldBe content(src)
  }

  test("replayed spans and checkpoint-loss overlaps converge without double-apply (X22)") {
    val src = history("tail_replay")
    val dst = graft.Scratch.fresh("tail_replay_dst")
    for (v <- 1L to 3L)
      SnapshotTailStream.applyBatch(spark, manifests(v), v, src, Seq("k"), dst)
    val done = SnapshotTable.versions(dst)
    // exact replay of an applied span: version-derived tag no-ops it
    SnapshotTailStream.applyBatch(spark, manifests(2L), 99L, src, Seq("k"), dst)
    SnapshotTable.versions(dst) shouldBe done
    content(dst) shouldBe content(src)
    // checkpoint loss: a batch overlapping the applied prefix re-applies
    // BY KEY — net images replace, the content cannot fork
    val dst2 = graft.Scratch.fresh("tail_replay_dst2")
    SnapshotTailStream.applyBatch(spark, manifests(1L), 0L, src, Seq("k"), dst2)
    SnapshotTailStream.applyBatch(spark, manifests(1L, 2L), 1L, src, Seq("k"), dst2)
    SnapshotTailStream.applyBatch(spark, manifests(2L, 3L), 2L, src, Seq("k"), dst2)
    content(dst2) shouldBe content(src)
  }

  test("maintenance commits propagate nothing: OPTIMIZE diffs to an empty feed (X22)") {
    val src = history("tail_opt")
    val dst = graft.Scratch.fresh("tail_opt_dst")
    for (v <- 1L to 3L)
      SnapshotTailStream.applyBatch(spark, manifests(v), v, src, Seq("k"), dst)
    val done = SnapshotTable.versions(dst)
    SnapshotTable.optimize(spark, src) // v4, content-identical
    SnapshotTailStream.applyBatch(spark, manifests(4L), 4L, src, Seq("k"), dst)
    SnapshotTable.versions(dst) shouldBe done
    content(dst) shouldBe content(src)
  }
}
