package graft.streaming

import graft.operators.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, get_json_object}
import org.apache.spark.sql.streaming.StreamingQuery

/** X25: the always-on retrieval loop closed — the SEARCH INDEX follows the
  * corpus table's manifest log. With X23 landing crawl shards as atomic
  * corpus commits and X17 maintaining a BM25 index from document batches,
  * the missing link was the feed between them; X22's log tail is that
  * link, so "crawl → dedup → corpus → searchable" is one chain of
  * commit-protocol hops with no bespoke plumbing: the crawler talks to a
  * directory, everything downstream talks to manifest logs.
  *
  * Per batch: the version span's NET feed (R44 — reads only the files the
  * span added) must be INSERT-ONLY, which P14's corpus discipline
  * guarantees (novel documents land exactly once, nothing is updated in
  * place); a D/U in the feed means the corpus was mutated outside that
  * discipline and the handler FAILS LOUDLY rather than serve an index
  * silently missing deletions. The insert batch then append-commits
  * postings + doc lengths through X17's tagged path, with the tag derived
  * from the corpus VERSION — replays no-op even across checkpoint loss
  * (the X22 argument).
  *
  * Scale shape per batch: churned corpus files tokenize once; the index
  * state never rescans; a quiet corpus costs a directory listing. */
object SearchIndexTail {

  /** One micro-batch: index the span's inserted documents, version-tagged. */
  def applyBatch(spark: SparkSession, manifests: DataFrame, batchId: Long,
      corpusTable: String, textCol: String, idCol: String,
      indexRoot: String): Unit = {
    import spark.implicits._
    val versions = manifests
      .select(get_json_object(col("value"), "$.version").cast("long").as("v"))
      .filter(col("v").isNotNull).as[Long].collect().sorted
    if (versions.isEmpty) return
    val feed = SnapshotTable.changesBetween(spark, corpusTable,
      versions.head - 1, versions.last, Seq(idCol))
    require(feed.filter(col("op") =!= "I").isEmpty,
      s"$corpusTable span (${versions.head - 1}, ${versions.last}] is not " +
        "insert-only — the index would silently diverge; rebuild it instead")
    StreamingSearchIndex.applyBatch(spark,
      feed.select(col(idCol), col(textCol)), versions.last,
      textCol, idCol, indexRoot)
  }

  /** Tail `corpusTable`'s manifest log into the X17 index at `indexRoot`. */
  def start(spark: SparkSession, corpusTable: String, textCol: String,
      idCol: String, indexRoot: String, checkpointDir: String): StreamingQuery =
    BatchTags.start(spark, s"$corpusTable/_log", None, checkpointDir) { (b, id, _) =>
      applyBatch(spark, b, id, corpusTable, textCol, idCol, indexRoot)
    }
}
