package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Event-stream operators (SURVEY.md §2.3 X1/X2).
  *
  * The same transforms run in batch and in Structured Streaming: the
  * windowed aggregation is identical column algebra over either source, and
  * sessionization has a batch form (window functions) plus a streaming form
  * (`flatMapGroupsWithState` with event-time timeout) whose outputs agree —
  * the StreamingSpec asserts that equivalence on a shared input.
  */
object EventStreams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class Session(user_id: Long, session_seq: Long, n_events: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      total_value: java.math.BigDecimal)

  /** Streaming session accumulator (state value — needs a stable encoder,
    * hence top-level). Money held as cents to stay exact in state. */
  case class Acc(seq: Long, n: Long, startUs: Long, endUs: Long, cents: Long)

  /** Per-user streaming state: open sessions plus the last-used session
    * sequence number. `lastSeq` survives even when every session closes —
    * removing the state entirely would restart the next session at seq 1,
    * emitting duplicate (user_id, session_seq) keys over the stream's
    * lifetime and breaking batch/stream equivalence (batch numbering is
    * cumulative). */
  case class SessState(lastSeq: Long, open: List[Acc])

  private def money(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** X1: tumbling-window counts/sums per event type. Works on batch frames
    * as-is; for streams pair with `withWatermark` (see `windowedAggStream`). */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(money(col("value"))).as("total_value"))
      .select(col("w").getField("start").as("ws"), col("event_type"), col("n"), col("total_value"))

  /** Streaming X1: watermarked tumbling windows in append mode. The groupBy
    * must be on the window struct itself — extracting `.start` before the
    * aggregation severs the event-time watermark chain and the engine
    * rejects append mode. */
  def windowedAggStream(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(money(col("value"))).as("total_value"))
      .select(col("w").getField("start").as("ws"), col("event_type"), col("n"), col("total_value"))

  /** X4: streaming exact dedup — at-least-once sources (Kafka, file
    * re-lists) deliver duplicates; this keeps the first occurrence per key
    * with state bounded by the watermark window, the streaming face of the
    * batch `Dedup.exactDedup`. */
  def dedupStream(events: DataFrame, idCols: Seq[String], watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** X5: streaming NEAR-dup dedup — the streaming face of SimHash dedup
    * (D3): each document's 64-bit SimHash becomes the dedup key, so
    * reordered/boilerplate-variant re-ingests (which exact-id dedup misses)
    * are dropped in-flight with state bounded by the watermark window. The
    * signature is the native codegen'd kernel, computed per-row before the
    * stateful operator — the state store holds 8-byte keys, not text.
    * `docs` needs (textCol, tsCol); rows whose signature was already seen
    * within the watermark are dropped. */
  def nearDedupStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs.withColumn("__sig", graft.operators.Dedup.simhash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig")

  /** X11: streaming curation ingest — the P3/P5 curation flow on a
    * firehose: a stateless T2 quality projection feeding X5's
    * watermark-bounded SimHash near-dedup. Filtering BEFORE the stateful
    * operator is the scale point: spam and low-quality rows never enter
    * the dedup state store, so state is bounded by the quality-pass rate ×
    * watermark window, not the raw firehose rate. Works identically on a
    * batch frame (the x11 gate); stream ≡ batch is spec-asserted. */
  def curationStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour", minChars: Int = 100,
      maxPunct: Double = 0.1): DataFrame =
    nearDedupStream(
      docs.filter(graft.operators.TextAnalysis.isQuality(col(textCol), minChars, maxPunct)),
      textCol, tsCol, watermark)

  /** X6: stream-static enrichment — each streamed event picks up its
    * dimension row (user profile, document source metadata). The static side
    * is a plain batch frame: Spark re-reads and re-plans it every
    * micro-batch, and the explicit broadcast keeps the stream side from ever
    * shuffling — the standard pattern for joining a firehose against
    * slowly-changing dims at scale (dims refresh between batches by
    * re-reading the table; no stream restart, no state store). Stateless:
    * stream-static left/inner joins need no watermark. Works identically on
    * a batch `events` frame — the x6 gate runs this exact function in batch
    * and the StreamingSpec asserts stream ≡ batch on a shared input. */
  def enrichStream(events: DataFrame, dims: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dims), col(eventKey) === col(dimKey), "left")

  /** X7: stream-stream interval join — every (purchase, click) pair of the
    * same user with the click inside the `lookback` window before the
    * purchase: N:M attribution, where the as-of join (R18) keeps only the
    * latest match. In streaming, BOTH sides carry watermarks and the join
    * condition carries the time interval, so each side's state store
    * retains only rows newer than (watermark − lookback): state stays
    * bounded no matter how long the streams run — the property that makes
    * stream-stream joins viable at all on an unbounded firehose. The join
    * shuffles both streams on the key, the same shape as the batch join.
    * Pass `None` watermarks to run the identical code on batch frames (the
    * x7 gate); stream ≡ batch is spec-asserted in StreamingSpec. */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
      lookback: String = "1 hour",
      purchaseWatermark: Option[String] = None,
      clickWatermark: Option[String] = None): DataFrame = {
    val p0 = purchases.select(col("event_id").as("purchase_id"), col("user_id"),
      col("ts").as("purchase_ts"))
    val c0 = clicks.select(col("event_id").as("click_id"), col("user_id").as("c_user"),
      col("ts").as("click_ts"))
    val p = purchaseWatermark.fold(p0)(w => p0.withWatermark("purchase_ts", w))
    val c = clickWatermark.fold(c0)(w => c0.withWatermark("click_ts", w))
    p.join(c, col("user_id") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr(s"interval $lookback") &&
        col("click_ts") <= col("purchase_ts"))
      .select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
  }

  /** X10: LEFT-OUTER watermarked stream-stream join — X7's attribution
    * shape, but purchases with NO click in the lookback window are still
    * emitted (null click columns), the form funnel analysis actually needs
    * ("which purchases were unattributed?"). Outer stream-stream joins are
    * the semantically hard case: the engine can only emit the null-padded
    * row once the watermark proves no matching click can still arrive, so
    * BOTH sides must be watermarked and the join condition must bound each
    * side's event time against the other (same conditions as X7 — the
    * state bound and the null-emission trigger are one mechanism). Pass
    * `None` watermarks to run the identical plan on batch frames (the x10
    * gate); stream ≡ batch incl. null rows is spec-asserted. */
  def attributionJoinOuter(purchases: DataFrame, clicks: DataFrame,
      lookback: String = "1 hour",
      purchaseWatermark: Option[String] = None,
      clickWatermark: Option[String] = None): DataFrame = {
    val p0 = purchases.select(col("event_id").as("purchase_id"), col("user_id"),
      col("ts").as("purchase_ts"))
    val c0 = clicks.select(col("event_id").as("click_id"), col("user_id").as("c_user"),
      col("ts").as("click_ts"))
    val p = purchaseWatermark.fold(p0)(w => p0.withWatermark("purchase_ts", w))
    val c = clickWatermark.fold(c0)(w => c0.withWatermark("click_ts", w))
    p.join(c, col("user_id") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr(s"interval $lookback") &&
        col("click_ts") <= col("purchase_ts"), "left_outer")
      .select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
  }

  /** X2 batch: gap-based sessionization with window functions. A session
    * breaks when the gap to the previous event of the same user exceeds
    * `gapMinutes`. Shuffles once on user_id; everything else is per-partition
    * sort — the standard scalable formulation. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs  = gapMinutes * 60L * 1000000L
    events
      .withColumn("__prev", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("__new",
        when(col("__prev").isNull || unix_micros(col("ts")) - col("__prev") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("__new")).over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(money(col("value"))).as("total_value"))
  }

  /** X2 streaming: per-user session accumulation in `flatMapGroupsWithState`
    * with event-time timeout — a session closes when the watermark passes its
    * last event + gap, exactly the batch gap rule. Emits closed sessions. */
  def sessionizeStream(spark: SparkSession, events: DataFrame, gapMinutes: Int = 30,
      watermark: String = "2 hours"): Dataset[Session] = {
    import spark.implicits._

    def usToTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }

    def toSession(userId: Long, a: Acc): Session =
      Session(userId, a.seq, a.n, usToTs(a.startUs), usToTs(a.endUs),
        java.math.BigDecimal.valueOf(a.cents, 2))

    val gapUs = gapMinutes * 60L * 1000000L

    events.withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, events, state: GroupState[SessState]) =>
          // Open sessions are kept ASCENDING by start time. Every event is
          // inserted as a singleton session at its sorted position and a
          // merge pass combines adjacent sessions whose gap closed — so
          // out-of-order events WITHIN the watermark extend (or bridge!)
          // earlier open sessions exactly as the batch form would, not just
          // the latest one. Sessions are disjoint by > gap, so sorted-by-
          // start is also sorted-by-end and the closable set is a prefix.
          val prev = state.getOption.getOrElse(SessState(0L, Nil))
          def usOf(e: Event): Long = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
          // iterative (a recursive nested def would compile to a method on
          // the enclosing object and make this closure non-serializable)
          def merged(list: List[Acc]): List[Acc] = {
            val buf = scala.collection.mutable.ListBuffer.empty[Acc]
            for (a <- list) {
              if (buf.nonEmpty && a.startUs - buf.last.endUs <= gapUs)
                buf(buf.size - 1) = Acc(0L, buf.last.n + a.n, buf.last.startUs,
                  math.max(buf.last.endUs, a.endUs), buf.last.cents + a.cents)
              else buf += a
            }
            buf.toList
          }
          var accs = prev.open
          for (e <- events.toSeq.sortBy(e => (usOf(e), e.event_id))) {
            val us = usOf(e)
            val (before, after) = accs.partition(_.startUs <= us)
            accs = merged((before :+ Acc(0L, 1L, us, us, math.round(e.value * 100))) ++ after)
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (closed, open) = accs.partition(a => wmUs > 0 && a.endUs + gapUs < wmUs)
          // sequence numbers are assigned at EMIT time: closes happen in
          // event-time order under the watermark, so cumulative numbering
          // matches the batch form even when late events reorder the opens.
          // State is kept (never removed) so the counter survives closure.
          val emitted = closed.zipWithIndex.map { case (a, i) => a.copy(seq = prev.lastSeq + i + 1) }
          state.update(SessState(prev.lastSeq + closed.size, open))
          if (open.nonEmpty) state.setTimeoutTimestamp(open.head.endUs / 1000 + gapUs / 1000)
          emitted.iterator.map(a => toSession(userId, a))
      }
  }

  // ---- X8: streaming CDC apply (incremental MERGE INTO) ----

  /** Merge one batch of change images into the CDC state: keep the max-`seqCol`
    * image per key across state ∪ batch — last-writer-wins by SEQUENCE, not by
    * arrival, so the final state is identical under any batch split or file
    * arrival order (delete tombstones stay in state for the same reason: a
    * late out-of-order update must lose to a newer delete it never saw).
    * Ties on (key, seq) — a source violating the monotone-seq contract —
    * are broken by a content hash of the full row, so even contract-breaking
    * inputs merge to ONE deterministic state instead of whichever image
    * reached the heap first. Runs through the bounded-heap TopK plan node:
    * one clustering shuffle, O(1) state per key per partition — at 100 TB
    * the state table never sorts per key. */
  def cdcMerge(state: DataFrame, batch: DataFrame, keyCols: Seq[String],
      seqCol: String): DataFrame = {
    val all = state.unionByName(batch)
    val tied = all.withColumn("__tie",
      xxhash64(to_json(struct(all.columns.sorted.map(col): _*))))
    graft.plans.TopK.perGroupOrdered(tied, keyCols,
      Seq(seqCol -> false, "__tie" -> true), 1).drop("__tie")
  }

  /** Hash bucket of a row's key — the unit of state rewrite. */
  private def bucketOf(keyCols: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets))

  /** Fold ONE micro-batch into the bucketed state under `stateDir`.
    *
    * State layout: `stateDir/v<batchId>/__b=<bucket>/…` — each version dir
    * holds ONLY the buckets that batch touched; the live image of bucket b
    * is its newest version. So a 1-key changeset rewrites 1 bucket
    * (O(state/nBuckets) I/O), not the whole table — the difference between
    * CDC state at 100 TB costing a bucket per batch and costing a full
    * table scan-and-rewrite per batch. Untouched buckets are not copied or
    * referenced; they simply stay where they are.
    *
    * Replay-safe: `foreachBatch` is at-least-once, so after a crash between
    * writing v<id> and the checkpoint commit the same (id, data) is
    * delivered again. The merge base is the newest version STRICTLY BELOW
    * the current batch id — a replay re-reads the exact pre-batch state
    * (never the half-written v<id> it is about to overwrite) and rewrites
    * v<id> to the identical deterministic content. */
  def cdcApplyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      keyCols: Seq[String], seqCol: String, stateDir: String,
      nBuckets: Int = 64): Unit = {
    checkBucketCount(stateDir, nBuckets)
    val bucket = bucketOf(keyCols, nBuckets)
    val touched = batch.select(bucket.as("__b")).distinct()
      .collect().map(_.getLong(0)).toSet // ≤ nBuckets ints — driver-safe
    if (touched.isEmpty) return
    val prevPaths = bucketDirs(stateDir, below = Some(batchId))
      .filter { case (b, _) => touched(b) }.values.toSeq
    val prev = if (prevPaths.nonEmpty) spark.read.parquet(prevPaths: _*)
      else batch.limit(0)
    cdcMerge(prev, batch, keyCols, seqCol)
      .withColumn("__b", bucket)
      .write.mode("overwrite").partitionBy("__b").parquet(s"$stateDir/v$batchId")
  }

  /** X8: drain the change shards landing in `inDir` (parquet of `schema`;
    * rows carry `opCol` ∈ I/U/D and a monotone per-key `seqCol`) into
    * hash-bucketed versioned parquet state — the streaming form of R25's
    * upsert, one [[cdcApplyBatch]] per micro-batch. Returns the running
    * query; read the live table with [[cdcCurrent]].
    *
    * `afterBatch(id)` runs after the batch's state version is written but
    * BEFORE the checkpoint commits the batch — metrics/listeners hook, and
    * the crash-injection point CrashRecoverySpec uses to prove the
    * write-then-crash-then-replay path rebuilds identical state. */
  def cdcApplyStream(spark: SparkSession, inDir: String, schema: StructType,
      keyCols: Seq[String], seqCol: String, stateDir: String, nBuckets: Int = 64,
      afterBatch: Long => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery =
    BatchTags.start(spark, inDir, Some(schema), s"$stateDir/_ckpt") { (b, id, _) =>
      cdcApplyBatch(spark, b, id, keyCols, seqCol, stateDir, nBuckets)
      afterBatch(id)
    }

  /** The live CDC table: newest version of every bucket, tombstones filtered
    * out. */
  def cdcCurrent(spark: SparkSession, stateDir: String, opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    val dirs = bucketDirs(stateDir, below = None).values.toSeq
    if (dirs.isEmpty) sys.error(s"no CDC state under $stateDir")
    spark.read.parquet(dirs: _*).filter(col(opCol) =!= "D").drop(opCol, seqCol)
  }

  /** Compact the versioned CDC state: rewrite the live image of every
    * bucket into ONE new version dir (`v<maxId+1>`), then delete every
    * older version — the periodic-compaction half of the base+delta design.
    * On a long-lived stream version dirs otherwise accumulate one per
    * micro-batch and [[bucketDirs]]'s driver-side listing grows without
    * bound; compaction resets it to one dir. Keys already merged (the live
    * image IS the merge result), so this is a pure read→repartition-write,
    * no cdcMerge pass. Safe between batches (the stream merges against
    * "newest version strictly below the NEXT batch id", which the compacted
    * dir satisfies: AvailableNow batch ids keep growing across restarts).
    * `nBuckets` MUST equal the stream's — bucket ids are the pruning key, so
    * a different count here would silently hide state rows from later
    * batches' touched-bucket lookups; the persisted `_nbuckets` marker
    * enforces it. Returns the new version id. */
  def cdcCompact(spark: SparkSession, stateDir: String, keyCols: Seq[String],
      nBuckets: Int = 64): Long = {
    checkBucketCount(stateDir, nBuckets)
    val dirs = bucketDirs(stateDir, below = None)
    if (dirs.isEmpty) sys.error(s"no CDC state under $stateDir")
    val versions = Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    val newId = versions.map(_.getName.drop(1).toLong).max + 1
    spark.read.parquet(dirs.values.toSeq: _*)
      .withColumn("__b", bucketOf(keyCols, nBuckets))
      .write.mode("overwrite").partitionBy("__b").parquet(s"$stateDir/v$newId")
    versions.foreach(v => deleteDir(v))
    newId
  }

  // ---- X9: streaming incremental aggregate maintenance (streaming IVM) ----

  /** Fold one micro-batch of CDC changes into the maintained rollup under
    * `stateDir` — the streaming form of R31: each batch's delta rollup
    * merges into the previous state and the FULL new state is written as
    * `stateDir/v<batchId>`. Unlike X8's row-level state (bucket-pruned
    * rewrites, state = |base| rows), an aggregate rollup is |groups| rows
    * regardless of base size, so rewriting it whole per batch IS the
    * scale-safe shape — that smallness is the whole point of maintaining
    * the view instead of the table. Replay-safe by the X8 rule: the merge
    * base is the newest version STRICTLY BELOW the current batch id, so an
    * at-least-once redelivery re-reads the exact pre-batch state and
    * rewrites v<id> to identical content. Versions older than id−1 are
    * pruned (replay never reaches below the immediately-preceding one). */
  def ivmApplyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      keys: Seq[String], opCol: String, sumCols: Seq[String],
      stateDir: String): Unit = {
    val versions = listVersions(stateDir)
    val prev = versions.filter(_._1 < batchId).sortBy(_._1).lastOption match {
      case Some((_, dir)) => spark.read.parquet(dir.getAbsolutePath)
      case None => graft.operators.IncrementalAgg.sumState(batch.limit(0), keys, sumCols)
    }
    graft.operators.IncrementalAgg.applyDelta(prev, batch, keys, opCol, sumCols)
      .write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    versions.filter(_._1 < batchId - 1).foreach(v => deleteDir(v._2))
  }

  /** X9: drain the CDC change shards landing in `inDir` (parquet of
    * `schema`; op ∈ I/D, updates arrive as D-old + I-new) into a
    * continuously-maintained grouped (count, sums) rollup — a streaming
    * materialized view. One [[ivmApplyBatch]] per micro-batch;
    * read the live rollup with [[ivmCurrent]]. `afterBatch`: see
    * [[cdcApplyStream]] — the post-write, pre-commit hook. */
  def ivmApplyStream(spark: SparkSession, inDir: String, schema: StructType,
      keys: Seq[String], opCol: String, sumCols: Seq[String], stateDir: String,
      afterBatch: Long => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery =
    BatchTags.start(spark, inDir, Some(schema), s"$stateDir/_ckpt") { (b, id, _) =>
      ivmApplyBatch(spark, b, id, keys, opCol, sumCols, stateDir)
      afterBatch(id)
    }

  /** The live maintained rollup: the newest state version. */
  def ivmCurrent(spark: SparkSession, stateDir: String): DataFrame = {
    val versions = listVersions(stateDir)
    if (versions.isEmpty) sys.error(s"no IVM state under $stateDir")
    spark.read.parquet(versions.maxBy(_._1)._2.getAbsolutePath)
  }

  private def listVersions(stateDir: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(f => f.getName.drop(1).toLong -> f)

  /** The bucket count is a PERSISTED property of the state dir — pruning
    * looks rows up by `__b=<hash mod nBuckets>`, so applying or compacting
    * with a different count would silently miss state rows (resurrected
    * deletes, duplicate keys). First writer records it in `_nbuckets`;
    * every later apply/compact must match or fail loudly. */
  private def checkBucketCount(stateDir: String, nBuckets: Int): Unit = {
    val marker = java.nio.file.Paths.get(stateDir, "_nbuckets")
    if (java.nio.file.Files.exists(marker)) {
      val recorded = java.nio.file.Files.readString(marker).trim.toInt
      require(recorded == nBuckets,
        s"CDC state at $stateDir was written with nBuckets=$recorded; got $nBuckets")
    } else {
      java.nio.file.Files.createDirectories(marker.getParent)
      java.nio.file.Files.writeString(marker, nBuckets.toString)
    }
  }

  private def deleteDir(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteDir)
    f.delete(): Unit
  }

  /** bucket → newest `stateDir/v<id>/__b=<bucket>` dir (restricted to
    * versions strictly below `below` when replaying). Listing is
    * O(versions × touched buckets) driver-side file metadata — pair with
    * periodic compaction (R26) to bound version count on a long-lived
    * stream. */
  private def bucketDirs(stateDir: String, below: Option[Long]): Map[Long, String] = {
    val versions = Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(f => f.getName.drop(1).toLong -> f)
      .filter { case (id, _) => below.forall(id < _) }
      .sortBy(_._1)
    versions.foldLeft(Map.empty[Long, String]) { case (acc, (_, dir)) =>
      val buckets = Option(dir.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("__b="))
        .map(f => f.getName.stripPrefix("__b=").toLong -> f.getAbsolutePath)
      acc ++ buckets // later (newer) versions win
    }
  }
}
