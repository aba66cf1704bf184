package graft.streaming

import graft.SparkSpec
import graft.operators.{AnnIndexStore, IvfPq, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X18: streaming ANN maintenance — the maintained encoded store equals a
  * batch re-encode of everything ingested, replays are no-ops, any shard
  * split converges, and state search ≡ batch IvfPq.search. */
class StreamingAnnIngestSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 8

  private def vecs(seed: Int, n: Int, from: Long = 0L): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (from + i, Array.fill(Dim)(rnd.nextFloat() * 2 - 1)))
  }

  private def df(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("vec_id", "v")

  private def buildRoot(name: String, base: Seq[(Long, Array[Float])])
      : (String, IvfPq.Index) = {
    val root = graft.Scratch.fresh(name)
    val index = IvfPq.build(df(base), "v", cells = 4, m = 4, k = 16)
    AnnIndexStore.save(spark, root, index, IvfPq.encode(df(base), "vec_id", "v", index))
    (root, index)
  }

  private def state(root: String): Set[(Long, Int, Seq[Int])] =
    SnapshotTable.read(spark, s"$root/encoded")
      .as[(Long, Int, Seq[Int])].collect().toSet

  test("maintained store equals a batch re-encode of the union (X18)") {
    val base = vecs(1, 100)
    val incoming = vecs(2, 90, from = 1000L)
    val (root, index) = buildRoot("x18spec_a", base)
    incoming.grouped(40).zipWithIndex.foreach { case (b, i) =>
      StreamingAnnIngest.applyBatch(spark, df(b), i, "vec_id", "v", index, root)
    }
    state(root) shouldBe IvfPq.encode(df(base ++ incoming), "vec_id", "v", index)
      .as[(Long, Int, Seq[Int])].collect().toSet
  }

  test("a replayed batch id commits nothing (X18)") {
    val base = vecs(3, 80)
    val incoming = vecs(4, 50, from = 1000L)
    val (root, index) = buildRoot("x18spec_b", base)
    StreamingAnnIngest.applyBatch(spark, df(incoming), 0, "vec_id", "v", index, root)
    val v = SnapshotTable.latestVersion(s"$root/encoded")
    val before = state(root)
    StreamingAnnIngest.applyBatch(spark, df(incoming), 0, "vec_id", "v", index, root)
    SnapshotTable.latestVersion(s"$root/encoded") shouldBe v
    state(root) shouldBe before
  }

  test("any shard split converges to the same store (X18)") {
    val base = vecs(5, 60)
    val incoming = vecs(6, 66, from = 1000L)
    val states = Seq(Seq(incoming), incoming.grouped(11).toSeq,
        Seq(incoming.take(3), incoming.drop(3))).zipWithIndex.map { case (bs, i) =>
      val (root, index) = buildRoot(s"x18spec_c$i", base)
      bs.zipWithIndex.foreach { case (b, j) =>
        StreamingAnnIngest.applyBatch(spark, df(b), j, "vec_id", "v", index, root)
      }
      state(root)
    }
    states.distinct should have size 1
  }

  test("state search equals batch IvfPq.search over the union (X18)") {
    val base = vecs(7, 120)
    val incoming = vecs(8, 80, from = 1000L)
    val (root, index) = buildRoot("x18spec_d", base)
    incoming.grouped(30).zipWithIndex.foreach { case (b, i) =>
      StreamingAnnIngest.applyBatch(spark, df(b), i, "vec_id", "v", index, root)
    }
    val all = df(base ++ incoming)
    val queries = all.filter(col("vec_id") < 10)
    def canon(r: DataFrame): Seq[(Long, Long, Double)] = r
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 9).as("cosine"))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    canon(StreamingAnnIngest.search(spark, root, queries, all, "vec_id", "v",
      k = 3, nprobe = 2, shortlist = 16)) shouldBe
      canon(IvfPq.search(queries, IvfPq.encode(all, "vec_id", "v", index), all,
        "vec_id", "v", index, k = 3, nprobe = 2, shortlist = 16))
  }

  test("streamed deletes ≡ one batch delete; replays commit nothing; splits converge (X20)") {
    val base = vecs(11, 150)
    val deadIds = (0L until 150L).filter(_ % 4 == 0)
    def searchIds(root: String): Set[(Long, Long)] =
      AnnIndexStore.searchWithDeletes(spark, root, df(base).filter(col("vec_id") < 8),
          df(base), "vec_id", "v", k = 5, nprobe = 4, shortlist = 150)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // one-shot batch reference
    val (rootA, _) = buildRoot("x20spec_a", base)
    StreamingAnnIngest.applyDeleteBatch(spark, deadIds.toDF("id"), 0L, "id", rootA)
    val expect = searchIds(rootA)
    expect.map(_._2).intersect(deadIds.toSet) shouldBe Set.empty
    // 3-way split converges to the same visible results
    val (rootB, _) = buildRoot("x20spec_b", base)
    deadIds.grouped(15).zipWithIndex.foreach { case (b, i) =>
      StreamingAnnIngest.applyDeleteBatch(spark, b.toDF("id"), i.toLong, "id", rootB)
    }
    searchIds(rootB) shouldBe expect
    // replaying an applied batch id commits nothing
    val tombT = s"$rootB/${AnnIndexStore.TombstoneTable}"
    val v = SnapshotTable.latestVersion(tombT)
    StreamingAnnIngest.applyDeleteBatch(spark, deadIds.take(15).toDF("id"), 0L, "id", rootB)
    SnapshotTable.latestVersion(tombT) shouldBe v
  }
}
