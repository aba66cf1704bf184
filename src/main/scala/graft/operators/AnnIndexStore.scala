package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S9: persisted ANN index (S6 × R40) — the build-once / search-many
  * artifact every production vector store ships: the IVF-PQ index
  * (coarse centroids + residual codebooks + the 32×-compressed encoded
  * corpus) saved as one atomically-published snapshot-table group, then
  * loaded by any number of search jobs without re-training or
  * re-encoding. Re-building the index per query job is the actual cost
  * at 1e9+ vectors — training passes + a full-corpus encode — and
  * nothing in S3/S5/S6 persisted it.
  *
  * Layout under `root` (all R40 manifest-log tables — readers see whole
  * versions, a racing re-build never exposes a half-written index, and
  * time travel pins a search job to the index version it started with):
  *   - `centroids`: (cid, pos, x) — the coarse codebook, exploded
  *   - `codebooks`: (sub, code, pos, x) — PQ codewords, exploded
  *   - `encoded`:   (id, cid, pq_codes) — the compressed candidate store
  * The codebook tables are tiny by design (driver-resident anyway:
  * cells×dim + m×k×subDim doubles) — [[load]] collects them back into
  * the [[IvfPq.Index]] reference object bit-exactly (doubles round-trip
  * parquet unchanged); the encoded corpus stays distributed. The three
  * tables publish as one [[SnapshotTxn]] under `root`, so [[load]] reads
  * a consistent triple from the latest txn (or from a pinned txn id).
  */
object AnnIndexStore {

  val Tables = Seq("centroids", "codebooks", "encoded")

  /** Publish `index` + its encoded corpus as one txn under `root`. */
  def save(spark: SparkSession, root: String, index: IvfPq.Index,
      encoded: DataFrame): Unit = {
    import spark.implicits._
    val cents = index.centroids.zipWithIndex.flatMap { case (v, cid) =>
      v.zipWithIndex.map { case (x, pos) => (cid, pos, x) }
    }.toDF("cid", "pos", "x")
    val books = index.cb.books.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.flatMap { case (cw, code) =>
        cw.zipWithIndex.map { case (x, pos) => (sub, code, pos, x) }
      }
    }.toDF("sub", "code", "pos", "x")
    // file sizing (§6): the codebook tables are KB-sized BY CONSTRUCTION
    // (driver-resident matrices exploded to rows) — one file each, always;
    // a default-parallelism LocalRelation write was emitting 32 near-empty
    // files per table per save. The encoded corpus right-sizes by its own
    // estimate: fixture-sized stores collapse to one file, a real corpus
    // keeps its partitioning.
    SnapshotTxn.commit(spark, root, Seq(
      "centroids" -> cents.coalesce(1),
      "codebooks" -> books.coalesce(1),
      "encoded"   -> SnapshotTable.rightSized(encoded))): Unit
  }

  /** Load the index back (driver-side codebooks + the distributed encoded
    * frame) from the latest txn, or from txn `version` — for a store
    * written only by saves, txn n is the n-th save. */
  def load(spark: SparkSession, root: String, version: Long = -1L)
      : (IvfPq.Index, DataFrame) = {
    val read = SnapshotTxn.cut(spark, root, version)
    val cents = read("centroids")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
    val bookRows = read("codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    val books = bookRows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, byBook) =>
      byBook.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, byCode) =>
        byCode.sortBy(_._3).map(_._4)
      }
    }
    val m = books.size
    val subDim = books.head.head.length
    val k = books.head.size
    val index = IvfPq.Index(cents.toIndexedSeq,
      ProductQuantizer.Codebooks(m, k, subDim, books.map(_.toSeq)))
    (index, read("encoded"))
  }

  /** Build + encode + publish in one call; returns the loaded pair so the
    * caller searches what was PERSISTED, not what was in memory. */
  def buildAndSave(spark: SparkSession, root: String, corpus: DataFrame,
      idCol: String, vecCol: String, cells: Int, m: Int, k: Int,
      knownN: Long = -1L): (IvfPq.Index, DataFrame) = {
    val index = IvfPq.build(corpus, vecCol, cells, m, k, knownN = knownN)
    save(spark, root, index, IvfPq.encode(corpus, idCol, vecCol, index))
    load(spark, root)
  }

  // ---- S10: deletes over the persisted index ----
  //
  // Real vector stores take deletes (GDPR scrubs, content takedowns,
  // re-crawls) far more often than they can afford a full re-encode. The
  // standard shape is the one here: deletes land as an id-only TOMBSTONE
  // table (cheap, atomic, append-only), every search anti-joins candidates
  // against it BEFORE the shortlist cut (filtering after the cut would
  // return < k), and a periodic compaction folds the tombstones into the
  // encoded store physically. The index geometry never changes — deleting
  // vectors can't move centroids that other codes were quantized against.

  val TombstoneTable = "tombstones"

  /** Record `ids` (first column, cast to long) as deleted. Append-committed
    * through the manifest log: atomic, replayable via `tag`, and readers of
    * an already-pinned version triple are unaffected mid-job. */
  def delete(spark: SparkSession, root: String, ids: DataFrame,
      tag: Option[String] = None): Long = {
    val t = s"$root/$TombstoneTable"
    val mode = if (SnapshotTable.latestVersion(t).isDefined) SnapshotTable.Append
               else SnapshotTable.Overwrite
    SnapshotTable.commit(spark, t,
      SnapshotTable.rightSized(
        ids.select(col(ids.columns.head).cast("long").as("id"))),
      mode = mode, tag = tag)
  }

  /** The live tombstone id set (empty frame before any delete, and after a
    * compaction clears the table to a zero-file version). */
  def tombstones(spark: SparkSession, root: String): DataFrame = {
    val t = s"$root/$TombstoneTable"
    val empty = spark.range(0).toDF("id")
    if (SnapshotTable.latestVersion(t).isEmpty) empty
    else {
      val df = SnapshotTable.read(spark, t)
      if (df.columns.contains("id")) df.select("id").distinct() else empty
    }
  }

  /** S10: search the persisted index with tombstones honored — candidates
    * are anti-joined against the delete set before ADC scoring, so the
    * shortlist and the exact re-rank only ever see live ids and the caller
    * still gets a full k. The tombstone side of the join is its distinct
    * id set (small by design between compactions), so AQE plans it as a
    * broadcast anti-join — no extra shuffle on the candidate stream.
    *
    * Reads through [[load]]'s consistent triple of the latest txn —
    * which includes every batch a streaming ingest (X18) appended, and the
    * tombstones a streaming delete (X20) recorded. */
  def searchWithDeletes(spark: SparkSession, root: String, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int = 5,
      nprobe: Int = 2, shortlist: Int = 64): DataFrame = {
    val (index, encoded) = load(spark, root)
    val live = encoded.join(
      tombstones(spark, root).withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
    IvfPq.search(queries, live, corpus, idCol, vecCol, index, k, nprobe, shortlist)
  }

  /** S11: the full production query over the persisted index — metadata
    * predicate × tombstones × PQ search in one call (S8's regime split
    * composed onto the S9/S10 store). `pred` evaluates against the
    * ENCODED store's columns: [[save]] persists whatever metadata columns
    * the caller attached alongside (id, cid, pq_codes), which is how real
    * stores serve "nearest docs in language Y" without touching the raw
    * corpus. Regimes, by the caller's `selectivity` estimate:
    *
    *   - SELECTIVE (≤ [[FilteredAnn.BruteCutoff]]): the store acts as a
    *     metadata prefilter — surviving ids fetch their raw vectors from
    *     `corpus` and S1's exact broadcast-scan finishes; EXACT, and the
    *     fetch join is survivor-sized.
    *   - BROAD: ADC search over the filtered+live encoded rows with
    *     nprobe inflated by 1/selectivity (S8's thinning compensation,
    *     capped at the cell count), exact re-rank as always.
    *
    * Tombstones compose on both paths — a deleted id can never surface. */
  def searchFiltered(spark: SparkSession, root: String, queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String,
      pred: org.apache.spark.sql.Column, selectivity: Double, k: Int = 5,
      nprobe: Int = 2, shortlist: Int = 64): DataFrame = {
    require(selectivity > 0 && selectivity <= 1.0)
    val (index, encoded) = load(spark, root)
    val live = encoded.filter(pred).join(
      tombstones(spark, root).withColumnRenamed("id", idCol),
      Seq(idCol), "left_anti")
    if (FilteredAnn.useBrute(selectivity)) {
      val survivors = corpus.join(live.select(idCol), Seq(idCol), "left_semi")
      Similarity.bruteForceTopK(queries, survivors, idCol, vecCol, k)
    } else {
      val np = FilteredAnn.inflatedNprobe(nprobe, index.centroids.size, selectivity)
      IvfPq.search(queries, live, corpus, idCol, vecCol, index, k, np, shortlist)
    }
  }

  /** S13: REINDEX — re-train the whole geometry on the store's CURRENT
    * live membership and re-encode it, published as one fresh consistent
    * triple. This is the maintenance operation drift forces on every real
    * vector store: centroids trained at bootstrap stop fitting after
    * months of appends (X18) and deletes (S10/X20) — cells go lopsided,
    * nprobe recall decays — and no amount of tombstone compaction fixes a
    * stale codebook, because compaction deliberately never moves centroids
    * other codes were quantized against.
    *
    * Membership is taken from the STORE, not the passed corpus: live ids =
    * encoded ids minus tombstones, then the raw vectors fetch from
    * `corpus` by semi-join (survivor-sized). Metadata columns the caller
    * attached to the encoded table (S11's filtered-search columns) are
    * carried onto the fresh encode by id. Tombstones fold into the
    * re-encode and the table clears — CAS'd on the version observed BEFORE
    * training, so a delete racing the rebuild surfaces as
    * [[SnapshotTable.ConcurrentCommitException]] instead of silently
    * resurrecting its id. Readers pinned to the old triple are unaffected
    * until they re-[[load]]; the publish is [[save]]'s one txn.
    *
    * Cost shape: one training sample pass + one full re-encode of the live
    * set — the honest price of new geometry; schedule it like R41
    * OPTIMIZE, off the query path, at drift cadence (S12's recall bound is
    * the trigger a production deployment watches). */
  def reindex(spark: SparkSession, root: String, corpus: DataFrame,
      idCol: String, vecCol: String, cells: Int, m: Int, k: Int,
      knownN: Long = -1L): (IvfPq.Index, DataFrame) = {
    val tombT = s"$root/$TombstoneTable"
    val tombV = SnapshotTable.latestVersion(tombT).getOrElse(-1L)
    // encoded only — [[load]] would additionally collect the centroid and
    // codebook tables (two driver round-trips) for an index this rebuild
    // immediately discards
    val encoded = SnapshotTxn.readAt(spark, root, "encoded")
    val liveIds = encoded.select(idCol).join(
      tombstones(spark, root).withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    val live = corpus.join(liveIds, Seq(idCol), "left_semi")
    // one count feeds BOTH training passes' sampling decisions (knownN = -1
    // used to cost one count() in build and a second in trainCentroids,
    // each re-planning the semi-join lineage)
    val n = if (knownN >= 0) knownN else live.count()
    val index = IvfPq.build(live, vecCol, cells, m, k, knownN = n)
    val fresh = IvfPq.encode(live, idCol, vecCol, index)
    val extraCols = encoded.columns.filterNot(
      Set(idCol, "cid", "pq_codes").contains).toSeq
    val withMeta =
      if (extraCols.isEmpty) fresh
      else fresh.join(
        encoded.select(idCol, extraCols: _*), Seq(idCol), "left")
    save(spark, root, index, withMeta)
    if (tombV >= 0)
      SnapshotTable.commit(spark, tombT, spark.range(0).toDF("id"),
        mode = SnapshotTable.Overwrite, expectedVersion = tombV): Unit
    load(spark, root)
  }

  /** S15: the [[reindexAdvisor]] verdict — every input it was computed
    * from rides along so maintenance jobs can log WHY. */
  final case class ReindexAdvice(rowsIndexed: Long, rowsLatest: Long,
      tombstones: Long, growth: Double, deletedShare: Double, reindex: Boolean)

  /** S15: drift-triggered reindex decision — the maintenance question
    * every vector store schedules: has the membership outgrown the
    * trained geometry? Reindex when the encoded store grew past
    * `growThreshold` × the rows the pinned generation was trained over
    * (X18 appends encode under FROZEN codebooks — cells sized for n rows
    * degrade as n doubles), or when tombstones exceed `deleteThreshold`
    * of the store (every probe pays to re-filter them, and the trained
    * cells mis-shape around mass that is gone).
    *
    * Metadata-priced: row counts come from R62 mergeable ANALYZE sidecars
    * (the 'after' call folds incrementally from the 'before' call's
    * sidecar — the advisor itself never rescans the base), tombstones
    * from one tombstone-sized count. The decision NEVER reads a vector. */
  def reindexAdvisor(spark: SparkSession, root: String, idCol: String,
      growThreshold: Double = 1.5,
      deleteThreshold: Double = 0.2): ReindexAdvice = {
    val encT = s"$root/encoded"
    val now = SnapshotTxn.tableVersions(root)
    val latest = now("encoded")
    // the trained generation: the encode of the first txn that pins the
    // current centroids (the save that trained them)
    val pinnedEnc = SnapshotTxn.txns(root).iterator.map(SnapshotTxn.tableVersions(root, _))
      .collectFirst { case vs if vs.get("centroids") == now.get("centroids") => vs("encoded") }.get
    def rowsAt(v: Long): Long = {
      SnapshotAnalyze.analyzeMergeable(spark, encT, Seq(idCol), v)
      SnapshotAnalyze.readMergeableProfile(spark, encT, v).get
        .filter(org.apache.spark.sql.functions.col("column") === idCol)
        .collect().head.getLong(1)
    }
    val rowsIndexed = rowsAt(pinnedEnc)
    val rowsLatest = if (latest == pinnedEnc) rowsIndexed else rowsAt(latest)
    val tomb =
      if (SnapshotTable.latestVersion(s"$root/$TombstoneTable").isEmpty) 0L
      else tombstones(spark, root).count()
    val growth =
      if (rowsIndexed == 0) Double.PositiveInfinity
      else rowsLatest.toDouble / rowsIndexed
    val share =
      if (rowsLatest == 0) 0.0 else tomb.toDouble / rowsLatest
    ReindexAdvice(rowsIndexed, rowsLatest, tomb, growth, share,
      growth >= growThreshold || share >= deleteThreshold)
  }

  /** Fold the tombstones into the encoded store physically: publish the
    * compacted encode as a one-table txn (the codebook tables carry
    * forward), then clear the tombstone table. The clear CASes on the
    * tombstone version observed BEFORE the rewrite: a delete racing the
    * compaction bumps that version and surfaces as
    * [[SnapshotTable.ConcurrentCommitException]] instead of being silently
    * resurrected by the clear. */
  def compactDeletes(spark: SparkSession, root: String, idCol: String): Unit = {
    val tombT = s"$root/$TombstoneTable"
    val tombV = SnapshotTable.latestVersion(tombT).getOrElse(-1L)
    val live = SnapshotTxn.readAt(spark, root, "encoded")
      .join(tombstones(spark, root).withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
    SnapshotTxn.commit(spark, root, Seq("encoded" -> SnapshotTable.rightSized(live)))
    if (tombV >= 0)
      SnapshotTable.commit(spark, tombT, spark.range(0).toDF("id"),
        mode = SnapshotTable.Overwrite, expectedVersion = tombV): Unit
  }
}
