package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** R40: manifest-log commit protocol — atomic swap, snapshot isolation,
  * time travel, CAS, crash atomicity, vacuum. */
class SnapshotTableSpec extends SparkSpec {
  import spark.implicits._
  import SnapshotTable._

  private def rows(table: String, v: Long = -1L): Set[(Long, String)] =
    read(spark, table, v).as[(Long, String)].collect().toSet

  test("commit/append/overwrite with time travel at every version (R40)") {
    val t = graft.Scratch.fresh("snap_basic")
    val v1 = commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v2 = commit(spark, t, Seq((3L, "c")).toDF("k", "v"), mode = Append)
    val v3 = commit(spark, t, Seq((9L, "z")).toDF("k", "v"))
    (v1, v2, v3) shouldBe ((1L, 2L, 3L))
    rows(t, 1) shouldBe Set((1L, "a"), (2L, "b"))
    rows(t, 2) shouldBe Set((1L, "a"), (2L, "b"), (3L, "c"))
    rows(t, 3) shouldBe Set((9L, "z"))
    rows(t) shouldBe Set((9L, "z")) // latest
    versions(t) shouldBe Seq(1L, 2L, 3L)
  }

  test("a crash before publish leaves the old version intact; retry succeeds (R40)") {
    val t = graft.Scratch.fresh("snap_crash")
    commit(spark, t, Seq((1L, "a")).toDF("k", "v"))
    // kill between data-file write and manifest rename — the X8 crash window
    intercept[RuntimeException] {
      commit(spark, t, Seq((2L, "b")).toDF("k", "v"), mode = Append,
        beforePublish = () => sys.error("injected crash: data written, manifest not published"))
    }
    // reader sees EXACTLY the old version — not a mix, not the orphan files
    rows(t) shouldBe Set((1L, "a"))
    latestVersion(t) shouldBe Some(1L)
    // the clean retry lands as v2 with both rows
    commit(spark, t, Seq((2L, "b")).toDF("k", "v"), mode = Append) shouldBe 2L
    rows(t) shouldBe Set((1L, "a"), (2L, "b"))
  }

  test("a reader pinned mid-commit sees the parent snapshot (R40 isolation)") {
    val t = graft.Scratch.fresh("snap_iso")
    commit(spark, t, Seq((1L, "a")).toDF("k", "v"))
    // read from inside the commit window: new data files exist on disk but
    // no manifest names them — the snapshot must be the parent's
    commit(spark, t, Seq((2L, "b")).toDF("k", "v"), mode = Append,
      beforePublish = () => rows(t) shouldBe Set((1L, "a")))
    rows(t) shouldBe Set((1L, "a"), (2L, "b"))
  }

  test("optimistic CAS: stale expectedVersion fails; manifest rename races lose cleanly (R40)") {
    val t = graft.Scratch.fresh("snap_cas")
    commit(spark, t, Seq((1L, "a")).toDF("k", "v"))
    intercept[ConcurrentCommitException] {
      commit(spark, t, Seq((2L, "b")).toDF("k", "v"), expectedVersion = 0L)
    }
    // two committers race the same version: the one whose rename lands
    // second must get ConcurrentCommitException, not overwrite the winner
    intercept[ConcurrentCommitException] {
      commit(spark, t, Seq((2L, "b")).toDF("k", "v"),
        beforePublish = () =>
          commit(spark, t, Seq((3L, "c")).toDF("k", "v")))
    }
    rows(t, 2) shouldBe Set((3L, "c")) // the winner's content
  }

  test("vacuum drops old manifests and unreferenced files, keeps retained versions exact (R40)") {
    val t = graft.Scratch.fresh("snap_vacuum")
    commit(spark, t, Seq((1L, "a")).toDF("k", "v"))
    commit(spark, t, Seq((2L, "b")).toDF("k", "v"), mode = Append)
    commit(spark, t, Seq((9L, "z")).toDF("k", "v")) // overwrite orphans v1/v2 files
    vacuum(t, keepFrom = 3L)
    versions(t) shouldBe Seq(3L)
    rows(t, 3) shouldBe Set((9L, "z"))
    // v1's commit dir is gone from data/
    val dataDirs = Option(new java.io.File(s"$t/data").listFiles()).toSeq.flatten
    dataDirs.map(_.getName).count(_.startsWith("c0000000000000001")) shouldBe 0
  }

  test("column-add evolution: merged read unions the schema, pinned reads keep theirs (R52)") {
    val t = graft.Scratch.fresh("snap_evolve")
    commit(spark, t, Seq((1L, "a")).toDF("k", "v"))
    commit(spark, t, Seq((2L, "b", 9.5)).toDF("k", "v", "w"), mode = Append)
    val merged = read(spark, t, mergeSchema = true)
    merged.columns.toSet shouldBe Set("k", "v", "w")
    merged.orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.get(r.fieldIndex("w"))))) shouldBe
      Array((1L, "a", None), (2L, "b", Some(9.5)))
    // a pinned historical read keeps exactly the schema its files had
    read(spark, t, version = 1L).columns.toSet shouldBe Set("k", "v")
  }

  test("AS OF TIMESTAMP resolves each boundary; pre-history errors; legacy manifests qualify (R55)") {
    val t = graft.Scratch.fresh("snap_asof")
    val t0 = System.currentTimeMillis() - 5
    commit(spark, t, Seq((1L, "a")).toDF("k", "v"))
    Thread.sleep(5); val t1 = System.currentTimeMillis(); Thread.sleep(5)
    commit(spark, t, Seq((2L, "b")).toDF("k", "v"))
    Thread.sleep(5); val t2 = System.currentTimeMillis(); Thread.sleep(5)
    commit(spark, t, Seq((3L, "c")).toDF("k", "v"), mode = Append)
    versionAsOf(t, t1) shouldBe 1L
    versionAsOf(t, t2) shouldBe 2L
    versionAsOf(t, System.currentTimeMillis()) shouldBe 3L
    rows(t, versionAsOf(t, t2)) shouldBe Set((2L, "b"))
    readAsOf(spark, t, t1).as[(Long, String)].collect().toSet shouldBe Set((1L, "a"))
    an[IllegalArgumentException] should be thrownBy versionAsOf(t, t0)
    // a manifest PREDATING the ts field (strip it) counts as always
    // qualifying — pre-historic, never a resolution hole
    val m1 = java.nio.file.Paths.get(t, "_log", f"v${1L}%016d.json")
    val stripped = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .replaceAll("\"ts\":\\d+,", "")
    java.nio.file.Files.delete(m1)
    java.nio.file.Files.write(m1, stripped.getBytes("UTF-8"))
    commitTime(t, 1L) shouldBe None
    versionAsOf(t, t0) shouldBe 1L // legacy v1 now qualifies even pre-t0
    versionAsOf(t, t2) shouldBe 2L // and never shadows a timed later version
  }

  test("DESCRIBE HISTORY: lineage/modes/tags/times per retained version; vacuum trims it (R56)") {
    val t = graft.Scratch.fresh("snap_history")
    commit(spark, t, Seq((1L, "a")).toDF("k", "v"))
    commit(spark, t, Seq((2L, "b")).toDF("k", "v"), mode = Append, tag = Some("b-2"))
    restore(t, toVersion = 1L)
    val h = history(spark, t).orderBy("version").collect()
    h.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 3L)
    h.map(_.getLong(1)).toSeq shouldBe Seq(-1L, 1L, 2L)
    h.map(_.getString(2)).toSeq shouldBe Seq("Overwrite", "Append", "Restore")
    h.map(r => Option(r.getString(3))).toSeq shouldBe Seq(None, Some("b-2"), None)
    h.foreach { r =>
      r.isNullAt(r.fieldIndex("ts_millis")) shouldBe false
      r.getAs[Long]("n_files") should be >= 1L
    }
    vacuum(t, keepFrom = 3L)
    history(spark, t).select("version").as[Long].collect().toSeq shouldBe Seq(3L)
  }

  test("rightSized leaves stats-less and overflowing estimates untouched") {
    // an RDD-backed frame has no size stats: its estimate is Spark's
    // Long.MaxValue marker, which must not wrap the ceil-division
    val rdd = spark.sparkContext.parallelize((1L to 64L).map(org.apache.spark.sql.Row(_)), 8)
    val statsLess = spark.createDataFrame(rdd,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
    statsLess.queryExecution.optimizedPlan.stats.sizeInBytes shouldBe BigInt(Long.MaxValue)
    rightSized(statsLess) should be theSameInstanceAs statsLess
    rightSized(statsLess).rdd.getNumPartitions shouldBe 8
    // a valid estimate whose partition count is no Int (2^43 bytes at
    // 1-byte targets); the range is only planned, never run
    val huge = spark.range(0L, 1L << 40, 1L, 4).toDF()
    huge.queryExecution.optimizedPlan.stats.sizeInBytes.isValidLong shouldBe true
    rightSized(huge, targetBytes = 1L) should be theSameInstanceAs huge
    rightSized(huge, targetBytes = 1L).rdd.getNumPartitions shouldBe 4
    // a small estimate still coalesces
    val small = spark.range(0L, 100L, 1L, 4).toDF()
    rightSized(small).rdd.getNumPartitions shouldBe 1
  }

  test("read takes the schema inference would find from the footer, without a job") {
    def inferred(files: Seq[String], merge: Boolean = false) =
      spark.read.option("mergeSchema", merge.toString).parquet(files: _*).schema
    def sameAsInference(t: String, v: Long = -1L): Unit = withClue(s"$t@$v: ") {
      val want = inferred(filesOf(t, v))
      val (got, jobs) = jobsOf(read(spark, t, v).schema)
      got shouldBe want
      jobs shouldBe 0
    }
    // Overwrite: each version has its own schema
    val t = graft.Scratch.fresh("snap_schema")
    commit(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(2))
    commit(spark, t, Seq((3L, 1.5)).toDF("k", "w"))
    sameAsInference(t, 1L)
    sameAsInference(t)
    // R52 Append with a new column: without mergeSchema, inference reads the
    // first file by path, the older commit, pinned or latest
    commit(spark, t, Seq((4L, 2.5, "x")).toDF("k", "w", "z"), mode = Append)
    sameAsInference(t, 2L)
    sameAsInference(t)
    read(spark, t).columns.toSeq shouldBe Seq("k", "w")
    read(spark, t, mergeSchema = true).schema shouldBe inferred(filesOf(t), merge = true)
    read(spark, t, mergeSchema = true).columns.toSeq shouldBe Seq("k", "w", "z")
    // RESTORE and a shallow clone (files reached through `../`)
    restore(t, toVersion = 1L)
    sameAsInference(t)
    val clone = graft.Scratch.fresh("snap_schema_clone")
    shallowClone(t, clone, version = 3L)
    filesOf(clone).foreach(_ should include("../"))
    sameAsInference(clone)
    // a parquet file with no Spark schema in its footer: inference decides
    val foreign = graft.Scratch.fresh("snap_schema_foreign")
    val rel = "data/c0000000000000001-foreign/part-00000-foreign.parquet"
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 k; optional binary v (UTF8); optional int32 d (DATE); }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$foreign/$rel")).withType(msg).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      .newGroup().append("k", 7L).append("v", "q").append("d", 19000))
    finally writer.close()
    publishManifest(foreign, 1L, None, Overwrite.label, None, Seq(rel))
    val (got, jobs) = jobsOf(read(spark, foreign).schema)
    got shouldBe inferred(filesOf(foreign))
    jobs should be > 0
    read(spark, foreign).as[(Long, String, java.sql.Date)].collect().toSeq shouldBe
      Seq((7L, "q", java.sql.Date.valueOf("2022-01-08")))
  }
}
