package graft.streaming

import graft.SparkSpec
import graft.operators.{IncrementalAgg, SnapshotIvm, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X15: streamed merge+refresh ≡ batch ground truth, replayed batches are
  * content no-ops, a crash between merge and refresh repairs on the next
  * attempt, and the batch split/order cannot change the final state. */
class SnapshotIvmStreamSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private val groups = Seq("g")
  private val sums = Seq("v")

  private def mkBase(name: String): (String, String) = {
    val base = graft.Scratch.fresh(name + "_base")
    val mv = graft.Scratch.fresh(name + "_mv")
    SnapshotTable.commit(spark, base, spark.range(2000L).select(col("id").as("k"),
        (col("id") % 9).as("g"), (col("id") % 83).cast("decimal(18,2)").as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k"))
    SnapshotIvm.refresh(spark, base, mv, keys, groups, sums): Unit
    (base, mv)
  }

  private def shard(i: Int): DataFrame = i match {
    case 0 => spark.range(100L, 160L).select(col("id").as("k"),
      (col("id") % 9).as("g"), lit(java.math.BigDecimal.valueOf(111, 2)).as("v"),
      lit("U").as("op"))
    case 1 => spark.range(400L, 430L).select(col("id").as("k"),
      (col("id") % 9).as("g"), lit(java.math.BigDecimal.ZERO).as("v"),
      lit("D").as("op"))
    case 2 => spark.range(4L).select((col("id") + 70000L).as("k"),
      lit(5L).as("g"), lit(java.math.BigDecimal.valueOf(250, 2)).as("v"),
      lit("I").as("op"))
  }

  private def content(df: DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap

  private def recompute(base: String): Map[String, Int] =
    content(IncrementalAgg.sumState(SnapshotTable.read(spark, base), groups, sums))

  test("3-shard stream ≡ recompute over the merged base; MV tag tracks base (X15)") {
    val (base, mv) = mkBase("x15s_run")
    val in = graft.Scratch.shards("x15s_run_in", Seq(0, 1, 2).map(shard))
    val ckpt = graft.Scratch.fresh("x15s_run_ckpt")
    SnapshotIvmStream.start(spark, in, base, mv, ckpt, shard(0).schema,
      keys, groups, sums).awaitTermination()
    SnapshotTable.latestVersion(base) shouldBe Some(4L) // bootstrap + 3 merges
    content(SnapshotTable.read(spark, mv)) shouldBe recompute(base)
    SnapshotIvm.reflectedVersion(mv) shouldBe 4L
  }

  test("a replayed batch is a content no-op: versions unchanged (X15)") {
    val (base, mv) = mkBase("x15s_replay")
    SnapshotIvmStream.applyBatch(spark, shard(0), 0L, base, mv, keys, groups, sums)
    val (bv, mvv) = (SnapshotTable.latestVersion(base), SnapshotTable.latestVersion(mv))
    val state = content(SnapshotTable.read(spark, mv))
    // foreachBatch redelivers the SAME last batch after a crash
    SnapshotIvmStream.applyBatch(spark, shard(0), 0L, base, mv, keys, groups, sums)
    SnapshotTable.latestVersion(base) shouldBe bv
    SnapshotTable.latestVersion(mv) shouldBe mvv
    content(SnapshotTable.read(spark, mv)) shouldBe state
  }

  test("crash between merge and refresh: the replay repairs the MV (X15)") {
    val (base, mv) = mkBase("x15s_crash")
    // simulate the half-applied batch: merge landed (tagged), refresh did not
    SnapshotTable.merge(spark, base, shard(0), keys, tag = Some("batch-0"))
    SnapshotIvm.reflectedVersion(mv) shouldBe 1L // stale
    SnapshotIvmStream.applyBatch(spark, shard(0), 0L, base, mv, keys, groups, sums)
    SnapshotTable.latestVersion(base) shouldBe Some(2L) // merge NOT re-applied
    content(SnapshotTable.read(spark, mv)) shouldBe recompute(base)
  }

  test("replay after a foreign commit (OPTIMIZE) still finds the tag: no pointless re-merge (X15)") {
    val (base, mv) = mkBase("x15s_foreign")
    SnapshotIvmStream.applyBatch(spark, shard(2), 0L, base, mv, keys, groups, sums)
    SnapshotTable.optimize(spark, base, targetBytes = 64L * 1024 * 1024) // untagged head
    val v = SnapshotTable.latestVersion(base)
    // the replayed batch must find its tag BELOW the optimize commit and
    // skip the merge — no new base version, state still exact
    SnapshotIvmStream.applyBatch(spark, shard(2), 0L, base, mv, keys, groups, sums)
    SnapshotTable.latestVersion(base) shouldBe v
    content(SnapshotTable.read(spark, mv)) shouldBe recompute(base)
  }

  test("disjoint shards converge to the same state in any order (X15)") {
    val (b1, m1) = mkBase("x15s_ord_a")
    val (b2, m2) = mkBase("x15s_ord_b")
    Seq(0, 1, 2).zipWithIndex.foreach { case (sh, i) =>
      SnapshotIvmStream.applyBatch(spark, shard(sh), i.toLong, b1, m1, keys, groups, sums) }
    Seq(2, 0, 1).zipWithIndex.foreach { case (sh, i) =>
      SnapshotIvmStream.applyBatch(spark, shard(sh), i.toLong, b2, m2, keys, groups, sums) }
    content(SnapshotTable.read(spark, m1)) shouldBe content(SnapshotTable.read(spark, m2))
    content(SnapshotTable.read(spark, m1)) shouldBe recompute(b1)
  }
}
