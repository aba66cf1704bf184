package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** X8/X9 fault injection: EventStreams documents that a crash between
  * writing the batch's state version and committing the checkpoint is
  * survivable (foreachBatch is at-least-once; the merge base is the newest
  * version STRICTLY BELOW the batch id, so a replay rebuilds v<id> with
  * identical content). This spec EXECUTES that crash instead of arguing it:
  * kill the query via the afterBatch hook — state written, commit not —
  * restart from the checkpoint, and require the recovered state to equal a
  * never-crashed run row for row.
  */
class CrashRecoverySpec extends SparkSpec {
  import spark.implicits._

  /** Three one-file micro-batches of CDC changes: inserts, updates (as U
    * with a newer seq), deletes. Returns the watched dir and their schema. */
  private def landCdcShards(): (String, org.apache.spark.sql.types.StructType) = {
    val base = (1L to 40L).map(k => (k, k * 10.0, "I", 1L)).toDF("k", "v", "op", "seq")
    val upd = (1L to 40L).filter(_ % 3 == 0).map(k => (k, k * 10.0 + 5, "U", 2L))
      .toDF("k", "v", "op", "seq")
    val del = (1L to 40L).filter(_ % 5 == 0).map(k => (k, 0.0, "D", 3L))
      .toDF("k", "v", "op", "seq")
    (graft.Scratch.shards("crash_cdc_in", Seq(base, upd, del)), base.schema)
  }

  test("X8 CDC state survives a crash between state write and checkpoint commit") {
    val refState = graft.Scratch.fresh("crash_cdc_ref")
    val crashState = graft.Scratch.fresh("crash_cdc_crash")
    val (watch, schema) = landCdcShards()

    // reference: the no-crash run
    EventStreams.cdcApplyStream(spark, watch, schema, Seq("k"), "seq", refState, nBuckets = 4)
      .awaitTermination()
    val ref = EventStreams.cdcCurrent(spark, refState)
      .orderBy("k").collect().toSeq

    // crash run: die AFTER batch 1's v1 dir is written, BEFORE its
    // checkpoint commit — the exact window the replay contract covers
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = EventStreams.cdcApplyStream(spark, watch, schema, Seq("k"), "seq", crashState,
      nBuckets = 4,
      afterBatch = id => if (id == 1 && !crashed.getAndSet(true))
        sys.error("injected crash: state written, checkpoint not committed"))
    intercept[StreamingQueryException] { q.awaitTermination() }
    assert(new java.io.File(s"$crashState/v1").exists(),
      "crash must land after v1 was written for the test to mean anything")

    // restart from the same checkpoint: batch 1 is redelivered
    // (at-least-once), v1 is rebuilt, batch 2 follows
    EventStreams.cdcApplyStream(spark, watch, schema, Seq("k"), "seq", crashState, nBuckets = 4)
      .awaitTermination()
    val recovered = EventStreams.cdcCurrent(spark, crashState)
      .orderBy("k").collect().toSeq
    recovered shouldBe ref
  }

  test("X9 IVM rollup survives a crash between state write and checkpoint commit") {
    val refState = graft.Scratch.fresh("crash_ivm_ref")
    val crashState = graft.Scratch.fresh("crash_ivm_crash")
    // X9 changes: I/D only, updates arrive as D-old + I-new
    // DECIMAL values: IncrementalAgg rejects floating-point sum columns at
    // the API (exact-accumulation contract)
    def dec(df: org.apache.spark.sql.DataFrame) = df.select(col("g"),
      col("v").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)).as("v"),
      col("op"))
    val base = dec((1L to 40L).map(k => (s"g${k % 4}", k * 1.0, "I")).toDF("g", "v", "op"))
    val updOld = dec((1L to 40L).filter(_ % 3 == 0).map(k => (s"g${k % 4}", k * 1.0, "D"))
      .toDF("g", "v", "op"))
    val updNew = dec((1L to 40L).filter(_ % 3 == 0).map(k => (s"g${k % 4}", k * 1.0 + 7, "I"))
      .toDF("g", "v", "op"))
    val del = dec((1L to 40L).filter(_ % 5 == 0)
      .map(k => (s"g${k % 4}", if (k % 3 == 0) k * 1.0 + 7 else k * 1.0, "D"))
      .toDF("g", "v", "op"))
    val watch = graft.Scratch.shards("crash_ivm_in",
      Seq(base, updOld.unionByName(updNew), del))

    EventStreams.ivmApplyStream(spark, watch, base.schema, Seq("g"), "op", Seq("v"), refState)
      .awaitTermination()
    val ref = EventStreams.ivmCurrent(spark, refState).orderBy("g").collect().toSeq

    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = EventStreams.ivmApplyStream(spark, watch, base.schema, Seq("g"), "op", Seq("v"), crashState,
      afterBatch = id => if (id == 1 && !crashed.getAndSet(true))
        sys.error("injected crash: state written, checkpoint not committed"))
    intercept[StreamingQueryException] { q.awaitTermination() }
    assert(new java.io.File(s"$crashState/v1").exists(),
      "crash must land after v1 was written")

    EventStreams.ivmApplyStream(spark, watch, base.schema, Seq("g"), "op", Seq("v"), crashState)
      .awaitTermination()
    val recovered = EventStreams.ivmCurrent(spark, crashState).orderBy("g").collect().toSeq
    recovered shouldBe ref
  }
}
