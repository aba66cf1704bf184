package graft.streaming

import graft.operators.{Search, SnapshotTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** X17: streaming full-text index maintenance (T20 × R40 × X13) — document
  * shards land in a watched directory and each micro-batch Append-commits
  * the batch's postings (doc, term, tf) and doc lengths (doc, dl) as
  * snapshot tables TAGGED with the batch id, so queries see whole
  * published batches (manifest atomicity) and an at-least-once replay
  * skips per table — a crash between the two commits is repaired by the
  * replay committing exactly the missing one. INSERT-only corpus
  * contract: each document arrives whole in exactly one batch, so the
  * appended postings hold one (doc, term) row per pair and df/avgdl
  * aggregate correctly over the state.
  *
  * [[search]] then answers T20 queries FROM THE STATE — postings filter
  * to the query's terms (at 100 TB this is the point: the state tables
  * are term-/id-clustered parquet, so a query reads a sliver instead of
  * re-tokenizing the corpus) and the scoring tail is literally
  * [[Search.scoreComponents]], so streamed-index scores are bit-identical
  * to a batch `bm25TopK` over the same corpus — the x17 gate asserts
  * exactly that against the same DuckDB oracle as t20.
  */
object StreamingSearchIndex {

  val Tables = Seq("postings", "doclen")

  /** One micro-batch: tokenize once, Append-commit postings + lengths,
    * tagged per table (replay-skipped per table). */
  def applyBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      textCol: String, idCol: String, indexRoot: String,
      namespace: String = ""): Unit = {
    val tag = BatchTags.tag(namespace, batchId.toString)
    // hasTag, not tagOf: a foreign commit landing between the tagged
    // Append and an at-least-once redelivery must not hide the published
    // batch and double-append it (the X16/hasTag discipline)
    val pending = Tables.filter { n =>
      !SnapshotTable.hasTag(s"$indexRoot/$n", tag)
    }
    if (pending.isEmpty || batch.isEmpty) return
    val (postings, doclen) = Search.indexComponents(batch, textCol, idCol)
    val byName = Map("postings" -> postings, "doclen" -> doclen)
    SnapshotTable.commitAll(spark,
      pending.map(n => s"$indexRoot/$n" -> byName(n)),
      mode = SnapshotTable.Append, tag = Some(tag))
  }

  /** Watch `inDir` for parquet document shards; maintain the index. */
  def start(spark: SparkSession, inDir: String, schema: StructType,
      textCol: String, idCol: String, indexRoot: String,
      checkpointDir: String): StreamingQuery =
    BatchTags.start(spark, inDir, Some(schema), checkpointDir) { (b, id, ns) =>
      applyBatch(spark, b, id, textCol, idCol, indexRoot, ns)
    }

  /** T20 scoring from the maintained state — ≡ `Search.bm25TopK` over the
    * union of every ingested batch, by construction (same scoring tail). */
  def search(spark: SparkSession, indexRoot: String, idCol: String,
      queryTerms: Seq[String], k: Int): DataFrame =
    Search.scoreComponents(
      SnapshotTable.read(spark, s"$indexRoot/postings"),
      SnapshotTable.read(spark, s"$indexRoot/doclen"),
      idCol, queryTerms, k)
}
