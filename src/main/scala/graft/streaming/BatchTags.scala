package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one micro-batch loop every streaming operator's `start` runs
  * through, and the idempotency-tag namespacing of its foreachBatch sinks.
  *
  * The policy, decided here once: a watched directory receives landed
  * shard files; ONE shard is ONE micro-batch (and one batch tag), and the
  * query drains what has landed with `AvailableNow`, then stops. The one
  * exception is [[EtlStream.start]], the reference's stdin mode, which takes
  * a caller's trigger and reads every file landed since the last trigger.
  *
  * The tag hazard: Structured Streaming batch ids are scoped to ONE
  * checkpoint. Two queries maintaining the same table — or one query
  * restarted with a FRESH checkpoint, whose batch ids restart at 0 —
  * produce colliding bare-`batchId` tags, and the replay check then
  * silently skips legitimate batches (data loss that looks like
  * idempotency). The checkpoint path is exactly the identity that matches
  * batch-id semantics: same checkpoint ⇒ ids continue and replay dedup
  * must hold; fresh checkpoint ⇒ a new id space whose tags must not
  * collide with any earlier query's. So [[start]] derives a namespace from
  * the checkpoint and hands it to every batch; direct `applyBatch` callers
  * (specs, one-shot backfills) may pass `""` and get the legacy
  * un-namespaced tags — consistent within their own single id space. */
object BatchTags {

  /** Stable 8-hex-digit namespace for one streaming query. */
  def namespace(checkpointDir: String): String = {
    val p = java.nio.file.Paths.get(checkpointDir)
      .toAbsolutePath.normalize().toString
    f"${scala.util.hashing.MurmurHash3.stringHash(p)}%08x"
  }

  /** `prefix-batchId` under `namespace` (empty namespace ⇒ legacy form). */
  def tag(namespace: String, prefixed: String): String =
    if (namespace.isEmpty) prefixed else s"$namespace#$prefixed"

  /** Run `applyBatch(batch, batchId, namespace)` over the shards landing in
    * `inDir` — parquet files of `schema`, or text lines (`value`) when
    * `schema` is None — checkpointed at `checkpointDir`. With no `trigger`,
    * one shard per micro-batch, drained with `AvailableNow`; with one (stdin
    * mode only), every landed file per firing of `trigger`. */
  def start(spark: SparkSession, inDir: String, schema: Option[StructType],
      checkpointDir: String, trigger: Option[Trigger] = None)(
      applyBatch: (DataFrame, Long, String) => Unit): StreamingQuery = {
    val reader = spark.readStream
    if (trigger.isEmpty) reader.option("maxFilesPerTrigger", "1")
    val ns = namespace(checkpointDir)
    schema.fold(reader.text(inDir))(reader.schema(_).parquet(inDir))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger.getOrElse(Trigger.AvailableNow()))
      .foreachBatch { (batch: DataFrame, id: Long) => applyBatch(batch, id, ns) }
      .start()
  }
}
