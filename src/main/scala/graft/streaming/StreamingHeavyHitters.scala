package graft.streaming

import graft.functions.{FrequentItems, MisraGries}
import graft.operators.SnapshotTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** X16: streaming heavy hitters — R46's Misra–Gries summary maintained
  * across micro-batches ("which keys are hot in the live feed"), the
  * skew-watch a long-running ingest runs continuously where the batch
  * operator would rescan history every time.
  *
  * Per batch: ONE aggregation collapses the batch to ≤ capacity
  * (item, cnt) counters + its row count, the partial merges into the
  * persisted summary with the same mergeable-summaries rule the
  * aggregate uses executor-side, and the merged state commits as an R40
  * snapshot TAGGED with the batch id — the X13 replay discipline: an
  * at-least-once redelivery whose tag is already in the log is skipped,
  * so both the counters and the running total stay exact-once. The
  * guarantee telescopes across batches (merging summaries only ever
  * tightens toward the union stream's summary), so at ANY point the
  * state's candidates cover every key with total frequency so far >
  * n_total/(capacity+1).
  *
  * The counters themselves remain lower bounds (merge-order dependent,
  * like every MG summary) — a DETERMINISTIC answer still ends with
  * R46's exact verify pass, which [[exactFromState]] runs against a
  * corpus of record (e.g. the landed shards): broadcast the ≤ capacity
  * candidates, count exactly, threshold strictly. State is capacity-
  * sized, so reading + rewriting it per batch is O(capacity), not
  * O(stream).
  */
object StreamingHeavyHitters {

  /** (counter pairs, rows seen) from the state table's head version. The
    * sentinel row (cnt = 0) exists so n_total survives even when every
    * counter cancelled — an all-distinct noise batch can legitimately
    * empty the summary, and losing the running total there would make
    * the final threshold compare against a fraction of the true stream
    * size (review-caught). */
  def readState(spark: SparkSession, stateTable: String): (Seq[(Long, Long)], Long) =
    SnapshotTable.latestVersion(stateTable) match {
      case None => (Seq.empty, 0L)
      case Some(_) =>
        val rows = SnapshotTable.read(spark, stateTable)
          .select("item", "cnt", "n_total").collect()
        (rows.collect { case r if r.getLong(1) > 0 => (r.getLong(0), r.getLong(1)) }
          .toSeq.sortBy(_._1),
          if (rows.isEmpty) 0L else rows.head.getLong(2))
    }

  /** One micro-batch: aggregate → merge → tagged commit (replay-skipped). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      keyCol: String, capacity: Int, stateTable: String,
      namespace: String = ""): Unit = {
    val tag = BatchTags.tag(namespace, s"batch-$batchId")
    if (SnapshotTable.hasTag(stateTable, tag) || batch.isEmpty) return
    val agg = batch.agg(
      FrequentItems.misraGriesCounts(col(keyCol), capacity).as("s"),
      count(col(keyCol)).as("n")).head()
    val partial = agg.getSeq[Row](0).map(r => (r.getLong(0), r.getLong(1)))
    val (prevPairs, prevN) = readState(spark, stateTable)
    val merged = MisraGries.mergePairs(prevPairs, partial, capacity)
    val nTotal = prevN + agg.getLong(1)
    import spark.implicits._
    // the (0, 0) sentinel guarantees ≥ 1 row, carrying n_total through
    // batches whose merged summary is empty; real counters are ≥ 1
    SnapshotTable.commit(spark,
      stateTable,
      (merged :+ (0L, 0L)).toDF("item", "cnt").withColumn("n_total", lit(nTotal)),
      tag = Some(tag)): Unit
  }

  /** Watch `inDir` for parquet shards carrying `keyCol`; maintain the
    * summary state at `stateTable` per micro-batch. */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      keyCol: String, capacity: Int, stateTable: String,
      checkpointDir: String): StreamingQuery =
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyBatch(spark, b, id, keyCol, capacity, stateTable, ns)
    }

  /** R46's deterministic finish over the live state: exact counts of the
    * state's candidates in `corpus`, strictly above n_total/(capacity+1)
    * — (`item`, `cnt`) sorted by item. `corpus` must be the rows the
    * state summarized (the landed shards / the published table). */
  def exactFromState(spark: SparkSession, stateTable: String,
      corpus: DataFrame, keyCol: String, capacity: Int): DataFrame = {
    val (pairs, nTotal) = readState(spark, stateTable)
    import spark.implicits._
    // internal name: a corpus whose key column is literally "item" must
    // not make the join ambiguous (the HeavyHitters.exact hygiene)
    val cands = pairs.map(_._1).toDF("__hh_item")
    corpus.join(broadcast(cands), col(keyCol) === col("__hh_item"))
      .groupBy("__hh_item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (capacity + 1) > nTotal)
      .select(col("__hh_item").as("item"), col("cnt"))
      .orderBy("item")
  }
}
