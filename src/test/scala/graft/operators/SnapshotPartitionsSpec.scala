package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** R54: hidden-partition commits through [[SnapshotTable]]'s `partitionBy`
  * — transform pruning bounds (identity / truncate / bucket / day), spec
  * evolution across commits, conservatism (nulls, foreign specs,
  * unsupported shapes), source columns surviving in the data, interop with
  * flat commits, OPTIMIZE keeping the layout, and vacuum recursion
  * safety. */
class SnapshotPartitionsSpec extends SparkSpec {
  import spark.implicits._
  import SnapshotPartitions._

  private def keptOf(t: String, pred: org.apache.spark.sql.Column): (Int, Int) = {
    val (kept, skipped) = SnapshotTable.prunedFiles(spark, t, pred)
    (kept.size, kept.size + skipped.size)
  }

  test("identity + truncate prune equality and ranges, content exact (R54)") {
    val t = graft.Scratch.fresh("part_idtr")
    val df = spark.range(1000).select(
      col("id"), (col("id") % 4).as("g"), (col("id") * 3).as("v"))
    SnapshotTable.commit(spark, t, df.coalesce(1),
      partitionBy = Seq(Identity("g"), Truncate("v", 1000L)))
    // 4 groups × 3 v-kilobins = 12 leaves; g-equality keeps one group
    val (kg, total) = keptOf(t, col("g") === 2L)
    total should be >= 12
    kg shouldBe total / 4
    // truncate range: v in [1500, 1999] lives in exactly the 1000-bin
    keptOf(t, col("v") >= 1500L && col("v") < 2000L)._1 shouldBe total / 3
    SnapshotTable.readPruned(spark, t, col("g") === 2L && col("v") < 600L)
      .as[(Long, Long, Long)].collect().toSet shouldBe
      (0L until 1000L).filter(i => i % 4 == 2 && i * 3 < 600).map(i => (i, i % 4, i * 3)).toSet
  }

  test("bucket prunes equality and IN to the matching buckets only (R54)") {
    val t = graft.Scratch.fresh("part_bucket")
    val df = spark.range(5000).select(col("id"), (col("id") % 997).as("k"))
    SnapshotTable.commit(spark, t, df.coalesce(1), partitionBy = Seq(Bucket("k", 16)))
    val (kept, total) = keptOf(t, col("k") === 123L)
    total shouldBe 16
    kept shouldBe 1
    // IN over two keys keeps at most two buckets; range shapes keep all
    keptOf(t, col("k").isin(123L, 456L))._1 should be <= 2
    keptOf(t, col("k") > 100L)._1 shouldBe 16
    SnapshotTable.readPruned(spark, t, col("k") === 123L).select("id")
      .as[Long].collect().toSet shouldBe
      (0L until 5000L).filter(_ % 997 == 123).toSet
  }

  test("day transform prunes timestamp ranges exactly at day boundaries (R54)") {
    val t = graft.Scratch.fresh("part_day")
    // 10 days, 24 hourly events each, starting 2024-03-01 00:30 UTC
    val base = 1709253000000000L // micros
    val df = spark.range(240).select(col("id"),
      timestamp_micros(lit(base) + col("id") * 3600000000L).as("ts"))
    SnapshotTable.commit(spark, t, df.coalesce(1), partitionBy = Seq(Day("ts")))
    val (_, total) = keptOf(t, lit(true))
    total should be >= 10
    val d0 = new java.sql.Timestamp(1709337600000L) // 2024-03-02 00:00 UTC
    val d1 = new java.sql.Timestamp(1709510400000L) // 2024-03-04 00:00 UTC
    val pred = col("ts") >= lit(d0) && col("ts") < lit(d1)
    keptOf(t, pred)._1 shouldBe 2
    SnapshotTable.readPruned(spark, t, pred).count() shouldBe 48L
  }

  test("spec evolution: each commit prunes under its own spec; flat commits never prune (R54)") {
    val t = graft.Scratch.fresh("part_evolve")
    val df = spark.range(600).select(col("id"), (col("id") % 3).as("g"))
    SnapshotTable.commit(spark, t, df.filter(col("id") < 200).coalesce(1),
      partitionBy = Seq(Identity("g")))
    SnapshotTable.commit(spark, t, df.filter(col("id") >= 200 && col("id") < 400).coalesce(1),
      mode = SnapshotTable.Append) // flat, no spec
    SnapshotTable.commit(spark, t, df.filter(col("id") >= 400).coalesce(1),
      partitionBy = Seq(Bucket("g", 2)),
      mode = SnapshotTable.Append)
    val (kept, skipped) = SnapshotTable.prunedFiles(spark, t, col("g") === 1L)
    // c1: keeps 1 of 3 identity leaves; c2: the flat file always kept;
    // c3: keeps the bucket hash(1L) lives in (1 of ≤2)
    skipped.count(_.startsWith("data/c0000000000000001")) shouldBe 2
    kept.count(_.startsWith("data/c0000000000000002")) shouldBe 1
    kept.count(_.startsWith("data/c0000000000000003")) shouldBe 1
    SnapshotTable.readPruned(spark, t, col("g") === 1L).select("id").as[Long].collect().toSet shouldBe
      (0L until 600L).filter(_ % 3 == 1).toSet
  }

  test("null partition values never prune; unsupported predicate shapes keep all (R54)") {
    val t = graft.Scratch.fresh("part_nulls")
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("b")))
      .toDF("id", "s").select(col("id"), col("s"))
    SnapshotTable.commit(spark, t, df.coalesce(1), partitionBy = Seq(Identity("s")))
    // the null row lives under __HIVE_DEFAULT_PARTITION__ — kept for ANY
    // predicate (it could match IS NULL semantics the checker won't model)
    val (kept, _) = SnapshotTable.prunedFiles(spark, t, col("s") === "a")
    kept.exists(_.contains("HIVE_DEFAULT")) shouldBe true
    SnapshotTable.read(spark, t).count() shouldBe 3L
    keptOf(t, org.apache.spark.sql.functions.length(col("s")) === 1)._1 shouldBe
      keptOf(t, lit(true))._2
  }

  test("string identity values with path-escaped characters round-trip (R54)") {
    val t = graft.Scratch.fresh("part_escape")
    val df = Seq((1L, "a/b"), (2L, "c:d"), (3L, "e f"), (4L, "g+h"))
      .toDF("id", "s")
    SnapshotTable.commit(spark, t, df.coalesce(1), partitionBy = Seq(Identity("s")))
    for (v <- Seq("a/b", "c:d", "e f", "g+h")) {
      keptOf(t, col("s") === v)._1 shouldBe 1
      SnapshotTable.readPruned(spark, t, col("s") === v).select("id").as[Long].collect() should have size 1
    }
  }

  test("source columns stay in the data files; __p* columns never surface (R54)") {
    val t = graft.Scratch.fresh("part_cols")
    val df = spark.range(100).select(col("id"), (col("id") % 5).as("g"))
    SnapshotTable.commit(spark, t, df, partitionBy = Seq(Identity("g")))
    SnapshotTable.read(spark, t).columns.toSeq shouldBe Seq("id", "g")
    SnapshotTable.readPruned(spark, t, col("g") === 3L).columns.toSeq shouldBe Seq("id", "g")
    SnapshotTable.read(spark, t).agg(sum("g")).as[Long].head() shouldBe
      (0L until 100L).map(_ % 5).sum
  }

  test("vacuum walks partitioned commit dirs recursively: live files survive, dead commits go (R54)") {
    val t = graft.Scratch.fresh("part_vacuum")
    val df = spark.range(300).select(col("id"), (col("id") % 3).as("g"))
    SnapshotTable.commit(spark, t, df.filter(col("id") < 100).coalesce(1),
      partitionBy = Seq(Identity("g")))
    SnapshotTable.commit(spark, t, df.filter(col("id") >= 100).coalesce(1),
      partitionBy = Seq(Identity("g"))) // overwrite
    SnapshotTable.vacuum(t, keepFrom = 2L)
    // v1's partitioned dir is gone, v2 still reads completely
    java.nio.file.Files.list(java.nio.file.Paths.get(t, "data")).count() shouldBe 1L
    SnapshotTable.read(spark, t).count() shouldBe 200L
    SnapshotTable.versions(t) shouldBe Seq(2L)
  }

  test("partition-preserving OPTIMIZE compacts into the layout; a new spec migrates it (R54×R41)") {
    val t = graft.Scratch.fresh("part_optimize")
    val df = spark.range(2000).select(col("id"), (col("id") % 4).as("g"))
    SnapshotTable.commit(spark, t, df.filter(col("id") % 4 === 0).coalesce(2),
      partitionBy = Seq(Identity("g")))
    for (i <- 1 until 4)
      SnapshotTable.commit(spark, t, df.filter(col("id") % 4 === i).coalesce(2),
        partitionBy = Seq(Identity("g")),
        mode = SnapshotTable.Append)
    def content = SnapshotTable.read(spark, t).as[(Long, Long)].collect().toSet
    val before = content
    val filesBefore = keptOf(t, lit(true))._2
    SnapshotTable.optimize(spark, t) // spec inferred from latest commit
    content shouldBe before
    val total = keptOf(t, lit(true))._2
    total should be < filesBefore // dribbled files compacted
    keptOf(t, col("g") === 2L)._1 shouldBe total / 4 // pruning survived
    // migration: rewrite the whole table under a bucket spec
    SnapshotTable.optimize(spark, t, partitionBy = Seq(Bucket("id", 8)))
    content shouldBe before
    keptOf(t, col("id") === 123L)._1 shouldBe 1
  }

  test("SnapshotTable.optimize keeps a partitioned table's pruning, past a flat append too (R54×R41)") {
    val t = graft.Scratch.fresh("part_optimize_flat_tail")
    val df = spark.range(2000).select(col("id"), (col("id") % 4).as("g"))
    SnapshotTable.commit(spark, t, df.filter(col("id") % 4 === 0).coalesce(2),
      partitionBy = Seq(Identity("g")))
    for (i <- 1 until 4)
      SnapshotTable.commit(spark, t, df.filter(col("id") % 4 === i).coalesce(2),
        partitionBy = Seq(Identity("g")), mode = SnapshotTable.Append)
    // the newest commit dir is flat: the spec comes from the newest
    // partitioned one
    SnapshotTable.commit(spark, t,
      spark.range(2000, 2100).select(col("id"), (col("id") % 4).as("g")).coalesce(1),
      mode = SnapshotTable.Append)
    val before = SnapshotTable.read(spark, t).as[(Long, Long)].collect().toSet
    SnapshotTable.optimize(spark, t)
    SnapshotTable.read(spark, t).as[(Long, Long)].collect().toSet shouldBe before
    val total = keptOf(t, lit(true))._2
    keptOf(t, col("g") === 2L)._1 shouldBe total / 4
  }

  test("CAS, tags and Append interop with the shared protocol (R54)") {
    val t = graft.Scratch.fresh("part_cas")
    val df = spark.range(50).select(col("id"), (col("id") % 2).as("g"))
    SnapshotTable.commit(spark, t, df.coalesce(1),
      partitionBy = Seq(Identity("g")), tag = Some("b-1"))
    SnapshotTable.tagOf(t) shouldBe Some("b-1")
    an[SnapshotTable.ConcurrentCommitException] should be thrownBy
      SnapshotTable.commit(spark, t, df.coalesce(1),
        partitionBy = Seq(Identity("g")), expectedVersion = 0L)
    SnapshotTable.commit(spark, t, df.coalesce(1), partitionBy = Seq(Identity("g")),
      mode = SnapshotTable.Append, expectedVersion = 1L)
    SnapshotTable.read(spark, t).count() shouldBe 100L
  }
}
