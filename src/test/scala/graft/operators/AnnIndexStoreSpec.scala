package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** S9: persisted IVF-PQ index — bit-exact codebook round-trip, persisted
  * search ≡ in-memory search, version pinning across re-builds, shared
  * publication tag. */
class AnnIndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private def corpus(seed: Int, n: Int, dim: Int = 16) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "embedding")
  }

  test("save → load round-trips centroids and codebooks bit-exactly (S9)") {
    val vecs = corpus(1, 300)
    val built = IvfPq.build(vecs, "embedding", cells = 4, m = 4, k = 8, knownN = 300)
    val root = graft.Scratch.fresh("s9spec_rt")
    AnnIndexStore.save(spark, root, built,
      IvfPq.encode(vecs, "vec_id", "embedding", built))
    val (loaded, encoded) = AnnIndexStore.load(spark, root)
    loaded.centroids.map(_.toSeq) shouldBe built.centroids.map(_.toSeq)
    loaded.cb.m shouldBe built.cb.m
    loaded.cb.k shouldBe built.cb.k
    loaded.cb.subDim shouldBe built.cb.subDim
    loaded.cb.books.map(_.map(_.toSeq)) shouldBe built.cb.books.map(_.map(_.toSeq))
    encoded.count() shouldBe 300L
  }

  test("search from the persisted index equals search from the built one (S9)") {
    val vecs = corpus(7, 400)
    val queries = vecs.filter($"vec_id" < 10)
    val root = graft.Scratch.fresh("s9spec_eq")
    val built = IvfPq.build(vecs, "embedding", cells = 4, m = 4, k = 8, knownN = 400)
    val encBuilt = IvfPq.encode(vecs, "vec_id", "embedding", built)
    AnnIndexStore.save(spark, root, built, encBuilt)
    val (loaded, encLoaded) = AnnIndexStore.load(spark, root)
    def run(ix: IvfPq.Index, enc: org.apache.spark.sql.DataFrame) =
      IvfPq.search(queries, enc, vecs, "vec_id", "embedding", ix,
          k = 5, nprobe = 2, shortlist = 32)
        .as[(Long, Long, Double)].collect().toSeq.sorted
    run(loaded, encLoaded) shouldBe run(built, encBuilt)
  }

  test("a re-build publishes a new version; the old one stays pinned (S9)") {
    val v1 = corpus(11, 200)
    val v2 = corpus(12, 250)
    val root = graft.Scratch.fresh("s9spec_ver")
    val b1 = IvfPq.build(v1, "embedding", cells = 4, m = 4, k = 8, knownN = 200)
    AnnIndexStore.save(spark, root, b1, IvfPq.encode(v1, "vec_id", "embedding", b1))
    val b2 = IvfPq.build(v2, "embedding", cells = 4, m = 4, k = 8, knownN = 250)
    AnnIndexStore.save(spark, root, b2, IvfPq.encode(v2, "vec_id", "embedding", b2))
    val (lNew, eNew) = AnnIndexStore.load(spark, root)
    val (lOld, eOld) = AnnIndexStore.load(spark, root, version = 1)
    lNew.centroids.map(_.toSeq) shouldBe b2.centroids.map(_.toSeq)
    lOld.centroids.map(_.toSeq) shouldBe b1.centroids.map(_.toSeq)
    eNew.count() shouldBe 250L
    eOld.count() shouldBe 200L
  }

  test("all three tables publish under one txn (S9)") {
    val vecs = corpus(21, 150)
    val root = graft.Scratch.fresh("s9spec_tag")
    val b = IvfPq.build(vecs, "embedding", cells = 4, m = 4, k = 8, knownN = 150)
    AnnIndexStore.save(spark, root, b, IvfPq.encode(vecs, "vec_id", "embedding", b))
    // one txn pins the consistent triple: exactly the versions the save wrote
    SnapshotTxn.txns(root) shouldBe Seq(1L)
    SnapshotTxn.tableVersions(root) shouldBe AnnIndexStore.Tables.map(_ -> 1L).toMap
  }

  test("tombstoned ids never surface and the caller still gets k results (S10)") {
    val vecs = corpus(31, 400)
    val queries = vecs.filter($"vec_id" < 10)
    val root = graft.Scratch.fresh("s10spec_del")
    val b = IvfPq.build(vecs, "embedding", cells = 4, m = 4, k = 8, knownN = 400)
    AnnIndexStore.save(spark, root, b, IvfPq.encode(vecs, "vec_id", "embedding", b))
    // delete the full exact top-3 of query 0 — the strongest neighbors
    val top3 = IvfPq.search(queries.filter($"vec_id" === 0),
        AnnIndexStore.load(spark, root)._2, vecs, "vec_id", "embedding", b,
        k = 3, nprobe = 4, shortlist = 400)
      .select("neighbor_id").as[Long].collect().toSet
    AnnIndexStore.delete(spark, root, top3.toSeq.toDF("id"))
    val res = AnnIndexStore.searchWithDeletes(spark, root, queries, vecs,
        "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 400)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    res.map(_._2).toSet.intersect(top3) shouldBe Set.empty
    res.groupBy(_._1).values.foreach(_.length shouldBe 5) // full k survives
    // deletes-honored search ≡ search over the corpus minus the deleted rows
    val expect = IvfPq.search(queries,
        IvfPq.encode(vecs.filter(!$"vec_id".isInCollection(top3)),
          "vec_id", "embedding", b),
        vecs, "vec_id", "embedding", b, k = 5, nprobe = 4, shortlist = 400)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    res.toSet shouldBe expect
  }

  test("compactDeletes folds tombstones physically and preserves results (S10)") {
    val vecs = corpus(41, 300)
    val queries = vecs.filter($"vec_id" < 8)
    val root = graft.Scratch.fresh("s10spec_compact")
    val b = IvfPq.build(vecs, "embedding", cells = 4, m = 4, k = 8, knownN = 300)
    AnnIndexStore.save(spark, root, b, IvfPq.encode(vecs, "vec_id", "embedding", b))
    AnnIndexStore.delete(spark, root, (0L until 50L).filter(_ % 3 == 0).toDF("id"))
    def run() = AnnIndexStore.searchWithDeletes(spark, root, queries, vecs,
        "vec_id", "embedding", k = 5, nprobe = 4, shortlist = 300)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val before = run()
    AnnIndexStore.compactDeletes(spark, root, "vec_id")
    AnnIndexStore.tombstones(spark, root).count() shouldBe 0L
    AnnIndexStore.load(spark, root)._2.count() shouldBe (300L - 17)
    run() shouldBe before
    // double-delete of already-dead ids stays idempotent through a compact
    AnnIndexStore.delete(spark, root, Seq(0L, 3L).toDF("id"))
    run() shouldBe before
  }

  test("filtered store search: predicate and tombstones compose, both regimes exact at full probe (S11)") {
    val vecs = corpus(61, 400)
    val queries = vecs.filter($"vec_id" < 6)
    val root = graft.Scratch.fresh("s11spec")
    val b = IvfPq.build(vecs, "embedding", cells = 4, m = 4, k = 8, knownN = 400)
    AnnIndexStore.save(spark, root, b,
      IvfPq.encode(vecs, "vec_id", "embedding", b)
        .withColumn("lab", col("vec_id") % 3))
    val deadIds = (0L until 400L).filter(i => i % 3 < 2 && i % 7 == 0)
    AnnIndexStore.delete(spark, root, deadIds.toDF("id"))
    val expect = Similarity.bruteForceTopK(queries,
        vecs.filter($"vec_id" % 3 < 2 && !$"vec_id".isInCollection(deadIds)),
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run(sel: Double) = AnnIndexStore.searchFiltered(spark, root, queries,
        vecs, "vec_id", "embedding", pred = col("lab") < 2, selectivity = sel,
        k = 5, nprobe = 4, shortlist = 400)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    run(0.66) shouldBe expect // broad: full-probe ADC + re-rank is exact
    run(0.01) shouldBe expect // selective: metadata-prefilter + exact scan
  }

  test("reindex re-trains on live membership, carries metadata, folds tombstones (S13)") {
    val vecs = corpus(71, 400)
    val queries = vecs.filter($"vec_id" < 8)
    val root = graft.Scratch.fresh("s13spec")
    val b = IvfPq.build(vecs, "embedding", cells = 4, m = 4, k = 8, knownN = 400)
    AnnIndexStore.save(spark, root, b,
      IvfPq.encode(vecs, "vec_id", "embedding", b)
        .withColumn("lab", col("vec_id") % 3))
    val deadIds = (0L until 400L).filter(_ % 5 == 0)
    AnnIndexStore.delete(spark, root, deadIds.toDF("id"))
    val (ix2, enc2) = AnnIndexStore.reindex(spark, root, vecs,
      "vec_id", "embedding", cells = 6, m = 4, k = 8)
    // new geometry, live membership only, metadata carried, tombstones gone
    ix2.centroids.size shouldBe 6
    enc2.select("vec_id").as[Long].collect().toSet shouldBe
      (0L until 400L).filterNot(_ % 5 == 0).toSet
    enc2.columns.toSet shouldBe Set("vec_id", "cid", "pq_codes", "lab")
    enc2.filter($"lab" =!= $"vec_id" % 3).count() shouldBe 0L
    AnnIndexStore.tombstones(spark, root).count() shouldBe 0L
    // search through the rebuilt store ≡ fresh-index search over survivors
    val res = AnnIndexStore.searchWithDeletes(spark, root, queries, vecs,
        "vec_id", "embedding", k = 5, nprobe = 6, shortlist = 400)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val expect = Similarity.bruteForceTopK(queries,
        vecs.filter($"vec_id" % 5 =!= 0), "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    res shouldBe expect // full probe + full shortlist + exact re-rank
    // the pre-reindex triple stays pinned: version 1 still loads the
    // 4-cell geometry with the full 400-row encode
    val (ixOld, encOld) = AnnIndexStore.load(spark, root, version = 1)
    ixOld.centroids.size shouldBe 4
    encOld.count() shouldBe 400L
  }

  test("a delete racing compactDeletes fails the clear loudly, never resurrects (S10)") {
    val vecs = corpus(51, 200)
    val root = graft.Scratch.fresh("s10spec_race")
    val b = IvfPq.build(vecs, "embedding", cells = 4, m = 4, k = 8, knownN = 200)
    AnnIndexStore.save(spark, root, b, IvfPq.encode(vecs, "vec_id", "embedding", b))
    AnnIndexStore.delete(spark, root, Seq(1L, 2L).toDF("id"))
    // simulate the race: bump the tombstone table between the observation
    // and the clear by running the clear against a stale expectedVersion
    val tombT = s"$root/${AnnIndexStore.TombstoneTable}"
    val staleV = SnapshotTable.latestVersion(tombT).get
    AnnIndexStore.delete(spark, root, Seq(7L).toDF("id")) // racing delete
    intercept[SnapshotTable.ConcurrentCommitException] {
      SnapshotTable.commit(spark, tombT, spark.range(0).toDF("id"),
        mode = SnapshotTable.Overwrite, expectedVersion = staleV): Unit
    }
    // the racing delete survives
    AnnIndexStore.tombstones(spark, root).as[Long].collect().toSet shouldBe Set(1L, 2L, 7L)
  }

  test("reindexAdvisor: growth and tombstone-share thresholds, metadata-priced (S15)") {
    val vecs = corpus(7, 280)
    val built = IvfPq.build(vecs, "embedding", cells = 4, m = 4, k = 8, knownN = 280)
    val root = graft.Scratch.fresh("s15spec_adv")
    AnnIndexStore.save(spark, root, built,
      IvfPq.encode(vecs, "vec_id", "embedding", built))
    val fresh = AnnIndexStore.reindexAdvisor(spark, root, "vec_id")
    fresh.reindex shouldBe false
    fresh.rowsIndexed shouldBe 280L
    fresh.growth shouldBe 1.0
    // sub-threshold growth: +40% stays quiet at the default 1.5
    val extra = corpus(8, 112).select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    graft.streaming.StreamingAnnIngest.applyBatch(
      spark, extra, 0L, "vec_id", "embedding", built, root)
    val grown = AnnIndexStore.reindexAdvisor(spark, root, "vec_id")
    grown.rowsLatest shouldBe 392L
    grown.reindex shouldBe false
    // ...but a tighter threshold flips on the same facts
    AnnIndexStore.reindexAdvisor(spark, root, "vec_id",
      growThreshold = 1.3).reindex shouldBe true
    // tombstone share crosses the delete threshold independently of growth
    AnnIndexStore.delete(spark, root,
      vecs.filter(col("vec_id") % 3 === 0).select(col("vec_id").as("id")))
    val deleted = AnnIndexStore.reindexAdvisor(spark, root, "vec_id")
    deleted.tombstones shouldBe 94L // ids 0,3,...,279
    deleted.reindex shouldBe true   // 94/392 = 0.24 >= 0.2
    // after the actual reindex the advisor quiesces (tombstones folded,
    // growth re-based on the new generation)
    AnnIndexStore.reindex(spark, root, vecs.unionByName(extra),
      "vec_id", "embedding", cells = 4, m = 4, k = 8)
    val post = AnnIndexStore.reindexAdvisor(spark, root, "vec_id")
    post.reindex shouldBe false
    post.tombstones shouldBe 0L
    post.growth shouldBe 1.0
  }
}
