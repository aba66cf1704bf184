package graft.streaming

import graft.SparkSpec
import graft.operators.{Search, SnapshotTable, SnapshotTxn}
import org.apache.spark.sql.DataFrame

/** X17: streaming index maintenance — state scoring ≡ fresh batch BM25,
  * replayed batches are no-ops, a partial-commit crash is repaired by the
  * replay, any batch split converges. */
class StreamingSearchIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Terms = Seq("alpha", "beta", "rare")

  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "rare", "pad", "x")
    (0 until n).map(i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
  }

  private def ingest(root: String, batches: Seq[Seq[(Long, String)]]): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingSearchIndex.applyBatch(spark, b.toDF("doc_id", "text"), i,
        "text", "doc_id", root)
    }

  private def fromState(root: String, k: Int = 30): Seq[(Long, Long, Long)] =
    StreamingSearchIndex.search(spark, root, "doc_id", Terms, k)
      .as[(Long, Long, Long)].collect().toSeq

  private def fresh(docs: Seq[(Long, String)], k: Int = 30): Seq[(Long, Long, Long)] =
    Search.bm25TopK(docs.toDF("doc_id", "text"), "text", "doc_id", Terms, k)
      .as[(Long, Long, Long)].collect().toSeq

  test("state scoring equals fresh batch BM25 over the union (X17)") {
    val docs = corpus(1, 400)
    val root = graft.Scratch.fresh("x17spec_a")
    ingest(root, docs.grouped(150).toSeq)
    fromState(root) shouldBe fresh(docs)
  }

  test("a replayed batch id commits nothing (X17)") {
    val docs = corpus(5, 200)
    val root = graft.Scratch.fresh("x17spec_b")
    ingest(root, Seq(docs))
    val versions = StreamingSearchIndex.Tables
      .map(n => SnapshotTable.latestVersion(s"$root/$n"))
    StreamingSearchIndex.applyBatch(spark, docs.toDF("doc_id", "text"), 0,
      "text", "doc_id", root)
    StreamingSearchIndex.Tables
      .map(n => SnapshotTable.latestVersion(s"$root/$n")) shouldBe versions
    fromState(root) shouldBe fresh(docs)
  }

  test("a crash that committed only postings is repaired by the replay (X17)") {
    val docs = corpus(9, 300)
    val Seq(b0, b1) = docs.grouped(150).toSeq
    val root = graft.Scratch.fresh("x17spec_c")
    ingest(root, Seq(b0))
    // simulate the crash: batch 1's txn committed postings, died before
    // doclen and before its txn publish
    val (p1, _) = Search.indexComponents(b1.toDF("doc_id", "text"), "text", "doc_id")
    intercept[RuntimeException](SnapshotTxn.commit(spark, root, Seq("postings" -> p1),
      mode = SnapshotTable.Append, tag = Some("1"),
      beforePublish = () => throw new RuntimeException("crash before txn publish")))
    SnapshotTable.latestVersion(s"$root/postings") shouldBe Some(2L) // dark version
    fromState(root) shouldBe fresh(b0) // readers still see batch 0 only
    // at-least-once redelivery of batch 1 publishes both tables once: the
    // crashed postings rows are not appended twice
    StreamingSearchIndex.applyBatch(spark, b1.toDF("doc_id", "text"), 1,
      "text", "doc_id", root)
    fromState(root) shouldBe fresh(docs)
  }

  test("any batch split converges to the same state result (X17)") {
    val docs = corpus(13, 360)
    val results = Seq(docs.grouped(360).toSeq, docs.grouped(50).toSeq,
        Seq(docs.take(7), docs.drop(7))).zipWithIndex.map { case (bs, i) =>
      val root = graft.Scratch.fresh(s"x17spec_d$i")
      ingest(root, bs)
      fromState(root)
    }
    results.distinct should have size 1
  }
}
