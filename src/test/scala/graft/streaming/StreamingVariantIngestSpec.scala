package graft.streaming

import graft.SparkSpec
import graft.operators.{EditJoin, SnapshotTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X27: streaming variant-index maintenance — any shard split converges to
  * the same answers, replays commit nothing, and the maintained store
  * answers like a fold-and-rebuild. */
class StreamingVariantIngestSpec extends SparkSpec {
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private val rng = new scala.util.Random(91)
  private def word() = (1 to (4 + rng.nextInt(5))).map(_ => "abcde"(rng.nextInt(5))).mkString
  private val base = Seq.tabulate(150)(i => (i.toLong, word()))
  private val incoming = Seq.tabulate(60)(i => (1000L + i, word()))
  private val current = base ++ incoming

  private def df(rows: Seq[(Long, String)]): DataFrame = rows.toDF("id", "lbl")

  private def answers(t: String, term: String): Set[(Long, Int)] =
    EditJoin.fuzzyLookupStored(spark, t, df(current), "id", "lbl", term)
      .select("id", "dist").as[(Long, Int)].collect().toSet

  private def expected(term: String): Set[(Long, Int)] =
    current.collect { case (id, s) if lev(s, term) <= 1 => (id, lev(s, term)) }.toSet

  private val probes = Seq(base(5)._2, incoming(3)._2, "q" + incoming(7)._2, "zzzzz")

  test("any batch split converges to the same exact answers (X27)") {
    for (chunk <- Seq(60, 20, 7)) {
      val t = graft.Scratch.fresh(s"x27spec_c$chunk")
      EditJoin.saveIndex(spark, t, df(base), "id", "lbl", files = 8)
      incoming.grouped(chunk).zipWithIndex.foreach { case (b, i) =>
        StreamingVariantIngest.applyBatch(spark, df(b), i.toLong, "id", "lbl", t)
      }
      for (term <- probes) answers(t, term) shouldBe expected(term)
    }
  }

  test("a replayed batch id commits nothing; empty batches commit nothing (X27)") {
    val t = graft.Scratch.fresh("x27spec_replay")
    EditJoin.saveIndex(spark, t, df(base), "id", "lbl", files = 8)
    StreamingVariantIngest.applyBatch(spark, df(incoming), 0L, "id", "lbl", t)
    val v = SnapshotTable.latestVersion(t).get
    StreamingVariantIngest.applyBatch(spark, df(incoming), 0L, "id", "lbl", t)
    SnapshotTable.latestVersion(t) shouldBe Some(v)
    StreamingVariantIngest.applyBatch(spark, df(Nil), 7L, "id", "lbl", t)
    SnapshotTable.latestVersion(t) shouldBe Some(v)
    // a redelivery AFTER a foreign commit (the fold) must still no-op:
    // hasTag scans all manifests, not just the latest
    EditJoin.saveIndex(spark, t, df(current), "id", "lbl", files = 8)
    val v2 = SnapshotTable.latestVersion(t).get
    StreamingVariantIngest.applyBatch(spark, df(incoming), 0L, "id", "lbl", t)
    SnapshotTable.latestVersion(t) shouldBe Some(v2)
    for (term <- probes) answers(t, term) shouldBe expected(term)
  }

  test("a fresh query's batch 0 is not aliased by an earlier query's (X27)") {
    // two queries (distinct checkpoints) maintain ONE table: their batch
    // ids both start at 0, so un-namespaced tags would alias and the
    // second query's first batch would be silently dropped
    val t = graft.Scratch.fresh("x27spec_ns")
    EditJoin.saveIndex(spark, t, df(base), "id", "lbl", files = 8)
    val ns1 = BatchTags.namespace(graft.Scratch.fresh("x27spec_ck1"))
    val ns2 = BatchTags.namespace(graft.Scratch.fresh("x27spec_ck2"))
    ns1 should not be ns2
    StreamingVariantIngest.applyBatch(spark, df(incoming.take(30)), 0L, "id", "lbl", t, ns1)
    val v1 = SnapshotTable.latestVersion(t).get
    StreamingVariantIngest.applyBatch(spark, df(incoming.drop(30)), 0L, "id", "lbl", t, ns2)
    val v2 = SnapshotTable.latestVersion(t).get
    v2 should be > v1 // the second query's batch COMMITTED
    // replay within each namespace still no-ops
    StreamingVariantIngest.applyBatch(spark, df(incoming.take(30)), 0L, "id", "lbl", t, ns1)
    StreamingVariantIngest.applyBatch(spark, df(incoming.drop(30)), 0L, "id", "lbl", t, ns2)
    SnapshotTable.latestVersion(t) shouldBe Some(v2)
    for (term <- probes) answers(t, term) shouldBe expected(term)
  }

  test("streamed maintenance through the file source ≡ rebuild (X27)") {
    val t = graft.Scratch.fresh("x27spec_stream")
    EditJoin.saveIndex(spark, t, df(base), "id", "lbl", files = 8)
    val in = graft.Scratch.shards("x27spec_in", incoming.grouped(25).map(df).toSeq)
    val ckpt = graft.Scratch.fresh("x27spec_ckpt")
    StreamingVariantIngest.start(spark, in, df(incoming).schema,
      "id", "lbl", t, ckpt).awaitTermination()
    val t2 = graft.Scratch.fresh("x27spec_rebuilt")
    EditJoin.saveIndex(spark, t2, df(current), "id", "lbl", files = 8)
    for (term <- probes) answers(t, term) shouldBe answers(t2, term)
  }

  test("two start runs on fresh checkpoints over one table both land (X27)") {
    // the namespace law through `start`: each run's batch ids restart at
    // 0 and its shard files are named shard-00000… again, so only the
    // checkpoint-derived tag namespace keeps the second run's batches from
    // being skipped as replays of the first run's
    val t = graft.Scratch.fresh("x27spec_runs")
    EditJoin.saveIndex(spark, t, df(base), "id", "lbl", files = 8)
    val v0 = SnapshotTable.latestVersion(t).get
    for ((rows, run) <- Seq(incoming.take(30), incoming.drop(30)).zipWithIndex) {
      val in = graft.Scratch.shards(s"x27spec_runs_in$run", rows.grouped(15).map(df).toSeq)
      StreamingVariantIngest.start(spark, in, df(incoming).schema, "id", "lbl", t,
        graft.Scratch.fresh(s"x27spec_runs_ckpt$run")).awaitTermination()
    }
    SnapshotTable.latestVersion(t) shouldBe Some(v0 + 4) // 2 runs × 2 shards
    for (term <- probes) answers(t, term) shouldBe expected(term)
  }
}
