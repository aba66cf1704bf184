package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column⇄Expression converters — the
  * supported pattern for libraries that ship custom Catalyst expressions
  * (the alternative, SparkSessionExtensions + FunctionRegistry, forces
  * SQL-name indirection for what is a plain Scala API here).
  */
object ColumnBridge {
  def column(e: Expression): Column    = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]].logicalPlan

  /** `localCheckpoint(eager = true)` + row count in ONE job. Iterative
    * loops (closure doubling, BFS frontiers, CC rounds) need both the
    * materialized round AND its size for loop control; `Dataset
    * .localCheckpoint(true)` already runs a count internally to force
    * materialization but throws the number away, so a `df.count()` after
    * it pays a second driver round-trip per round. This mirrors the
    * Dataset.checkpoint implementation (execute → copy rows → persist →
    * mark for local checkpoint → count) and returns the count it was
    * going to compute anyway. The returned frame is built with
    * [[LogicalRDD.fromDataset]] — the exact factory `Dataset.checkpoint`
    * uses — so the checkpointed plan keeps the physical plan's
    * outputPartitioning/outputOrdering (exprIds rewritten to the analyzed
    * output) plus stats and constraints: a consumer keyed the same way
    * (closure self-joins, BFS anti-joins) does NOT re-shuffle the round.
    * Lineage-truncated exactly like `localCheckpoint`, releasable via
    * [[unpersistCheckpoint]]. */
  def localCheckpointCounted(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val internal = ds.queryExecution.executedPlan.execute().map(_.copy())
    internal.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    internal.localCheckpoint()
    val n = internal.count()
    (ofRows(spark, org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(internal, ds, isStreaming = false)), n)
  }

  /** [[localCheckpointCounted]] plus an order-independent 64-bit content
    * fingerprint (count, XOR of per-row XXH64 over the UnsafeRow bytes) —
    * all in ONE job. Iterative fixpoint loops (CC rounds) previously paid
    * two actions per round: the eager checkpoint's internal count and a
    * separate `agg(count, bit_xor(xxhash64(...)))` convergence probe; the
    * fingerprint here folds into the materialization pass itself. The hash
    * function differs from the SQL probe's (raw row bytes vs per-column
    * xxhash64) but a convergence check only needs "equal row sets ⇒ equal
    * fingerprints" (deterministic: fixed-width UnsafeRow bytes are a pure
    * function of content for a given schema) and 64-bit collision odds —
    * both identical. Requires UnsafeRow-producing plans (every aggregate/
    * shuffle/codegen operator; loud error otherwise, it must never
    * silently mis-fingerprint). Distinct row sets only: XOR cancels
    * duplicate rows pairwise. Supported schemas: columns whose equal values
    * have equal bytes. Float, double and map columns (at any depth) are
    * rejected: -0.0 vs 0.0, NaN bit patterns and map key order are
    * SQL-equal but byte-different, so a fixpoint loop over them would
    * never see convergence. */
  def localCheckpointFingerprinted(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Long, Long) = {
    import org.apache.spark.sql.types._
    def unstable(t: DataType): Boolean = t match {
      case FloatType | DoubleType | _: MapType => true
      case s: StructType => s.fields.exists(f => unstable(f.dataType))
      case a: ArrayType => unstable(a.elementType)
      case _ => false
    }
    val bad = df.schema.fields.filter(f => unstable(f.dataType))
    require(bad.isEmpty, "localCheckpointFingerprinted needs byte-stable columns; " +
      bad.map(f => s"${f.name}: ${f.dataType}").mkString("rejected ", ", ", "") +
      " (float, double and map values can be equal with different bytes)")
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    val internal = ds.queryExecution.executedPlan.execute().map(_.copy())
    internal.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    internal.localCheckpoint()
    val (n, h) = internal.aggregate((0L, 0L))(
      (acc, r) => r match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
          (acc._1 + 1, acc._2 ^ org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L))
        case other => throw new IllegalStateException(
          s"localCheckpointFingerprinted needs UnsafeRow output, got ${other.getClass}")
      },
      (a, b) => (a._1 + b._1, a._2 ^ b._2))
    (ofRows(spark, org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(internal, ds, isStreaming = false)), n, h)
  }

  /** Release the storage behind a `checkpoint`/`localCheckpoint(eager)`'d
    * frame. `Dataset.unpersist` only talks to the CacheManager and cannot
    * reach checkpoint storage; the RDD handle lives inside the `LogicalRDD`
    * the checkpoint rewrote the plan to. Local checkpoints release their
    * block-manager blocks; RELIABLE checkpoints additionally delete their
    * files from the checkpoint filesystem — Spark itself only cleans those
    * via ContextCleaner when `spark.cleaner.referenceTracking
    * .cleanCheckpoints` is set (default false) and only after GC, so an
    * iterative algorithm's superseded rounds would otherwise accumulate
    * rounds × data-set bytes on the shared filesystem. No-op for
    * non-checkpointed frames.
    * CAUTION: a checkpointed frame has truncated lineage — after this call
    * it can never be computed again; only release frames whose consumers
    * are finished (e.g. superseded rounds of an iterative loop). */
  def unpersistCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    logicalPlan(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
        lr.rdd.getCheckpointFile.foreach { dir =>
          val path = new org.apache.hadoop.fs.Path(dir)
          val conf = df.sparkSession.sparkContext.hadoopConfiguration
          path.getFileSystem(conf).delete(path, true): Unit
        }
      case _ => ()
    }

  /** Block until the listener bus has delivered every event posted so far
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`). */
  def awaitListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
