package graft.streaming

import graft.{Gate, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

/** Batch-equivalent gate queries for the streaming operators (X1/X2): the
  * same column algebra the streams run, executed over the `events` table so
  * DuckDB can oracle-check the semantics.
  *
  * The operators aggregate money in DECIMAL (exact at any parallelism); the
  * gates cast the final `total_value` to DOUBLE because the driver's
  * comparator renders Spark decimals with full scale but DuckDB decimals as
  * floats — see Relational.emit. */
object StreamingGates {

  def gates: Seq[Gate] = Seq(
    Gate("x1_window_agg",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      EventStreams.windowedAgg(Tables(s, dir).events)
        .withColumn("total_value", col("total_value").cast("double"))
    },
    Gate("x2_sessionize",
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events,
        |  CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) AS TIMESTAMP) AS session_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM numbered GROUP BY user_id, session_seq""".stripMargin) { (s, dir) =>
      EventStreams.sessionizeBatch(Tables(s, dir).events, gapMinutes = 30)
        .withColumn("total_value", col("total_value").cast("double"))
    },
    // X6: stream-static broadcast enrichment — the gate runs the operator's
    // exact code path on the batch events frame (the function is
    // source-agnostic; stream ≡ batch is spec-asserted in StreamingSpec).
    Gate("x6_stream_enrich",
      """SELECT event_id, ts, user_id, event_type, value, c_mktsegment, c_name
        |FROM events LEFT JOIN customer ON user_id = c_custkey""".stripMargin) { (s, dir) =>
      val t = Tables(s, dir)
      EventStreams.enrichStream(t.events,
          t.customer.select("c_custkey", "c_mktsegment", "c_name"),
          "user_id", "c_custkey")
        .select("event_id", "ts", "user_id", "event_type", "value",
          "c_mktsegment", "c_name")
    },
    // X7: stream-stream interval join (batch form of the same code path;
    // the result is a pure pair set, deterministic at any parallelism).
    Gate("x7_interval_join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir).events
      EventStreams.attributionJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
    },
    // X10: the left-outer attribution join — unattributed purchases emit
    // with null click columns. Batch form of the same code path; the
    // streaming null-emission (watermark-triggered) is spec-asserted.
    Gate("x10_outer_interval_join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts""".stripMargin) { (s, dir) =>
      val ev = Tables(s, dir).events
      EventStreams.attributionJoinOuter(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "click"))
    },
    // X8: streaming CDC apply, driver-visible end to end — three change
    // shards (inserts seq 1, updates seq 2, deletes seq 3) dropped into a
    // watched dir, drained one file per micro-batch through foreachBatch
    // copy-on-write merges, final state read back. Last-writer-wins is by
    // SEQ, not arrival, so the result is identical under any file order or
    // batch split — which is exactly what makes it oracle-checkable.
    Gate("x8_cdc_stream",
      // X8: the final CDC state is a pure function of the change set (LWW by
      // seq) — updates land on keys ≡0 mod 3, deletes remove keys ≡0 mod 9.
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 9 <> 0""".stripMargin) { (s, dir) =>
      val watch = graft.Scratch.fresh("x8_in")
      val state = graft.Scratch.fresh("x8_state")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      val base = o.withColumn("op", org.apache.spark.sql.functions.lit("I"))
        .withColumn("seq", org.apache.spark.sql.functions.lit(1L))
      val upd = o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10)
        .withColumn("op", org.apache.spark.sql.functions.lit("U"))
        .withColumn("seq", org.apache.spark.sql.functions.lit(2L))
      val del = o.filter(col("o_orderkey") % 9 === 0)
        .withColumn("op", org.apache.spark.sql.functions.lit("D"))
        .withColumn("seq", org.apache.spark.sql.functions.lit(3L))
      base.coalesce(1).write.mode("append").parquet(watch)
      upd.coalesce(1).write.mode("append").parquet(watch)
      del.coalesce(1).write.mode("append").parquet(watch)
      val src = s.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1").parquet(watch)
      // nBuckets sized to the gate's ~1 MB state (buckets are the rewrite
      // unit — a few hundred MB each at production scale; 64+ there)
      val q = EventStreams.cdcApplyStream(s, src, Seq("o_orderkey"), "seq", state,
        nBuckets = 8)
      q.awaitTermination()
      // compact the per-batch version dirs into one and read THAT back:
      // the hash gates that compaction preserves the live state exactly
      EventStreams.cdcCompact(s, state, Seq("o_orderkey"), nBuckets = 8)
      EventStreams.cdcCurrent(s, state).orderBy("o_orderkey")
    },
    // X9: streaming IVM, driver-visible end to end — three change shards
    // (base inserts; updates as D-old + I-new pairs; deletes of the
    // updated images) drained one file per micro-batch, each folding a
    // delta rollup into the maintained per-status (count, sum) state. The
    // maintained rollup is LINEAR in the deltas (groups stay far from the
    // zero-count drop), so the final state is identical under any shard
    // order or batch split — recompute-oracle-checkable like r31.
    Gate("x9_ivm_stream",
      // X9: the maintained rollup must equal a recompute over the live row
      // set (survivors at their updated prices) — delta chain ≡ recompute.
      """WITH live AS (
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) +
        |      CASE WHEN o_orderkey % 3 = 0 THEN 10 ELSE 0 END AS price
        |  FROM orders WHERE o_orderkey % 9 <> 0
        |)
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(price) AS DOUBLE) AS sum_price
        |FROM live GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.lit
      val watch = graft.Scratch.fresh("x9_in")
      val state = graft.Scratch.fresh("x9_state")
      val o = Tables(s, dir).orders.select(col("o_orderstatus"),
        col("o_totalprice").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(18, 2)).as("price"),
        col("o_orderkey"))
      val base = o.select(col("o_orderstatus"), col("price")).withColumn("op", lit("I"))
      val updD = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderstatus"), col("price")).withColumn("op", lit("D"))
      // +10 widens decimal(18,2) → (19,2); cast back so every shard writes
      // the same parquet physical type the stream schema declares
      val dec182 = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)
      val updI = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderstatus"), (col("price") + 10).cast(dec182).as("price"))
        .withColumn("op", lit("I"))
      val del = o.filter(col("o_orderkey") % 9 === 0)
        .select(col("o_orderstatus"), (col("price") + 10).cast(dec182).as("price"))
        .withColumn("op", lit("D"))
      base.coalesce(1).write.mode("append").parquet(watch)
      updD.unionByName(updI).coalesce(1).write.mode("append").parquet(watch)
      del.coalesce(1).write.mode("append").parquet(watch)
      val src = s.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1").parquet(watch)
      val q = EventStreams.ivmApplyStream(s, src, Seq("o_orderstatus"), "op",
        Seq("price"), state)
      q.awaitTermination()
      EventStreams.ivmCurrent(s, state)
        .select(col("o_orderstatus"), col("n"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    },
    // X16: streaming heavy hitters — r46's planted-skew key stream lands
    // as 3 parquet shards, one per micro-batch; each batch folds its MG
    // partial into the tagged snapshot state, and the deterministic
    // finish (exact counts of the state's candidates over the landed
    // corpus) must equal the same plain GROUP BY/HAVING oracle as the
    // batch operator — the batch split invisible. Replay idempotency and
    // split-invariance are StreamingHeavyHittersSpec's.
    Gate("x16_stream_heavy_hitters",
      // X16: same replay as the batch r46 oracle — the stream's state path
      // must land on the identical exact heavy-hitter set
      """WITH k AS (
        |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN 42
        |              WHEN o_orderkey % 7 = 0 THEN 7
        |              ELSE o_custkey END AS item
        |  FROM orders
        |), t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM k)
        |SELECT item, CAST(count(*) AS BIGINT) AS cnt
        |FROM k, t GROUP BY item, n HAVING count(*) * 21 > n
        |ORDER BY item""".stripMargin) { (s, dir) =>
      import java.nio.file.Paths
      val in = graft.Scratch.fresh("x16_in")
      val state = graft.Scratch.fresh("x16_state")
      val ckpt = graft.Scratch.fresh("x16_ckpt")
      val keyed = Tables(s, dir).orders.select(
        when(col("o_orderkey") % 3 === 0, lit(42L))
          .when(col("o_orderkey") % 7 === 0, lit(7L))
          .otherwise(col("o_custkey").cast("long")).as("k"),
        col("o_orderkey"))
      val shards = Seq(
        keyed.filter(col("o_orderkey") % 10 < 4),
        keyed.filter(col("o_orderkey") % 10 >= 4 && col("o_orderkey") % 10 < 7),
        keyed.filter(col("o_orderkey") % 10 >= 7)).map(_.select("k"))
      shards.zipWithIndex.foreach { case (df, i) =>
        graft.Scratch.writeSingleParquet(df, Paths.get(in, f"shard-$i%05d.parquet"))
      }
      val q = StreamingHeavyHitters.start(s, in, shards.head.schema, "k",
        capacity = 20, state, ckpt, maxFilesPerTrigger = 1)
      q.awaitTermination()
      StreamingHeavyHitters.exactFromState(s, state, s.read.parquet(in), "k",
        capacity = 20)
    },

    // X21: streaming merge-on-read deletes — the keys ≡0 (mod 7) arrive
    // as 3 delete-request shards, each recording tombstones through a
    // tagged DV append (replay-skipped); the MoR read must then equal
    // the plain predicate filter with ZERO base files rewritten
    // (in-gate require). Replay no-ops and split-independence are
    // StreamingMorDeletesSpec's.
    Gate("x21_stream_mor_deletes",
      // X21: the MoR read after the streamed deletes ≡ the plain filter
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 7 <> 0""".stripMargin) { (s, dir) =>
      import java.nio.file.Paths
      val t = graft.Scratch.fresh("x21_table")
      val in = graft.Scratch.fresh("x21_in")
      val ckpt = graft.Scratch.fresh("x21_ckpt")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      graft.operators.SnapshotTable.commit(s, t, o.coalesce(2))
      val filesBefore = graft.operators.SnapshotTable.filesOf(t)
      val dead = o.filter(col("o_orderkey") % 7 === 0).select("o_orderkey")
      (0 until 3).foreach { i =>
        graft.Scratch.writeSingleParquet(dead.filter(col("o_orderkey") % 3 === i),
          Paths.get(in, f"shard-$i%05d.parquet"))
      }
      val q = StreamingMorDeletes.start(s, in, dead.schema, "o_orderkey", t, ckpt,
        maxFilesPerTrigger = 1)
      q.awaitTermination()
      require(graft.operators.SnapshotTable.filesOf(t) == filesBefore,
        "streaming MoR delete must not rewrite data files")
      graft.operators.SnapshotDv.readMor(s, t).orderBy("o_orderkey")
    },

    // X19: exactly-once streaming ingest across tables — the events land
    // as 3 shards, one per micro-batch; each batch merges its per-type
    // partial into the by_key rollup AND the global totals, publishing
    // both as ONE tagged R50 transaction. The gate reads the final cut
    // THROUGH the txn pin; decimal accumulation makes the maintained
    // state ≡ the one-shot batch aggregate exactly, so the same plain
    // GROUP BY oracle certifies it. Crash-window atomicity (totals never
    // skew from by_key at ANY txn) and replay no-ops are
    // StreamingTxnIngestSpec's.
    Gate("x19_stream_txn_ingest",
      // X19: maintained txn state ≡ one-shot aggregate over the landed rows
      """SELECT event_type AS key, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT '__total' AS key, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events""".stripMargin) { (s, dir) =>
      import java.nio.file.Paths
      val in = graft.Scratch.fresh("x19_in")
      val root = graft.Scratch.fresh("x19_txn")
      val ckpt = graft.Scratch.fresh("x19_ckpt")
      val ev = Tables(s, dir).events.select("event_type", "value", "event_id")
      (0 until 3).foreach { i =>
        graft.Scratch.writeSingleParquet(
          ev.filter(col("event_id") % 3 === i).select("event_type", "value"),
          Paths.get(in, f"shard-$i%05d.parquet"))
      }
      val q = StreamingTxnIngest.start(s, in,
        ev.select("event_type", "value").schema, "event_type", "value",
        root, ckpt, maxFilesPerTrigger = 1)
      q.awaitTermination()
      StreamingTxnIngest.current(s, root).orderBy("key")
    },

    // X17: streaming full-text index — the documents table lands as 3
    // shards (doc_id mod 3, one per micro-batch); each batch appends its
    // postings + lengths as tagged snapshot commits, and scoring FROM THE
    // STATE must equal batch t20 over the whole corpus — the same DuckDB
    // oracle, the batch split invisible. Replay/crash repair and
    // state ≡ fresh-tokenization are StreamingSearchIndexSpec's.
    Gate("x17_stream_search_index",
      // X17: scoring from the streamed index ≡ the batch t20 formula
      ("WITH " + graft.operators.LlmOps.bm25OracleSql("documents",
        Seq("dup", "merge", "vector", "spark", "quantum"), 50))) { (s, dir) =>
      import java.nio.file.Paths
      val in = graft.Scratch.fresh("x17_in")
      val root = graft.Scratch.fresh("x17_idx")
      val ckpt = graft.Scratch.fresh("x17_ckpt")
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      (0 until 3).foreach { i =>
        graft.Scratch.writeSingleParquet(docs.filter(col("doc_id") % 3 === i),
          Paths.get(in, f"shard-$i%05d.parquet"))
      }
      val q = StreamingSearchIndex.start(s, in, docs.schema, "text", "doc_id",
        root, ckpt, maxFilesPerTrigger = 1)
      q.awaitTermination()
      StreamingSearchIndex.search(s, root, "doc_id",
        Seq("dup", "merge", "vector", "spark", "quantum"), k = 50)
    },

    // X22: the snapshot table AS a streaming source — a three-version
    // source history (clustered base commit, R43 merge of updates+deletes,
    // Append of the odd keys) is tailed version-by-version off the
    // manifest log into a destination snapshot table; the destination must
    // equal the source's LATEST content (the in-gate require proves it was
    // built INCREMENTALLY: one destination version per source version, so
    // a bootstrap-only shortcut fails loudly). Replay/checkpoint-loss
    // idempotency, net-span folding and maintenance-commit suppression
    // are SnapshotTailStreamSpec's.
    Gate("x22_snapshot_tail",
      // X22: the tailed destination ≡ the source's latest content — updates
      // landed on keys ≡0 mod 6, deletes removed keys ≡0 mod 10 (except the
      // updated ones), the Append added the odd keys
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 10
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 0 AND o_orderkey % 6 <> 0)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val src = graft.Scratch.fresh("x22_src")
      val dst = graft.Scratch.fresh("x22_dst")
      val ckpt = graft.Scratch.fresh("x22_ckpt")
      val o = Tables(s, dir).orders.select("o_orderkey", "o_custkey", "o_totalprice")
      graft.operators.SnapshotTable.commit(s, src,
        o.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      val upd = o.filter(col("o_orderkey") % 6 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10)
        .withColumn("op", lit("U"))
      val del = o.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 6 =!= 0)
        .withColumn("op", lit("D"))
      graft.operators.SnapshotTable.merge(s, src, upd.unionByName(del), Seq("o_orderkey"))
      graft.operators.SnapshotTable.commit(s, src,
        o.filter(col("o_orderkey") % 2 === 1), mode = graft.operators.SnapshotTable.Append)
      val q = SnapshotTailStream.start(s, src, Seq("o_orderkey"), dst, ckpt,
        maxFilesPerTrigger = 1)
      q.awaitTermination()
      require(graft.operators.SnapshotTable.versions(dst).size == 3,
        "tail must fold one destination version per source version")
      graft.operators.SnapshotTable.read(s, dst).orderBy("o_orderkey")
    },

    // X23: the P14 crawl loop streamed — the corpus bootstraps from batch
    // 1, then three crawl shards drain one per micro-batch: the genuinely
    // new docs (must land), planted re-crawls of corpus docs (must vanish
    // against the incumbents) and planted in-batch dup copies (must lose
    // to their shard-0 originals). Same first-arrival oracle as p14 — the
    // streaming transport must be invisible; the require proves only ONE
    // shard landed a version (the other two were pure duplicates).
    // Replay no-ops and order semantics are StreamingCorpusRefreshSpec's.
    Gate("x23_stream_corpus",
      // X23: identical first-arrival replay to the batch p14 oracle — the
      // streaming transport must be invisible in the corpus content
      """WITH all_docs AS (
        |  SELECT doc_id, lang, source, n_chars, text,
        |    CASE WHEN doc_id % 3 <> 2 THEN 0 ELSE 1 END AS b
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, source, n_chars, text, 1
        |  FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, lang, source, n_chars, text, 1
        |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
        |),
        |ranked AS (
        |  SELECT doc_id, lang, source, n_chars, md5(text) AS content_hash,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY b, doc_id) AS rn
        |  FROM all_docs
        |)
        |SELECT doc_id, lang, source, n_chars, content_hash
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import java.nio.file.Paths
      val t = graft.Scratch.fresh("x23_corpus")
      val in = graft.Scratch.fresh("x23_in")
      val ckpt = graft.Scratch.fresh("x23_ckpt")
      val docs = Tables(s, dir).documents
        .select("doc_id", "lang", "source", "n_chars", "text")
      val batch1 = docs.filter(col("doc_id") % 3 =!= 2)
      val recrawl = batch1.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val batch2core = docs.filter(col("doc_id") % 3 === 2)
      val inBatchDup = batch2core.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)
      graft.operators.IncrementalCorpus.bootstrap(s, t, batch1, "text", "doc_id")
      Seq(batch2core, recrawl, inBatchDup).zipWithIndex.foreach { case (df, i) =>
        graft.Scratch.writeSingleParquet(df, Paths.get(in, f"shard-$i%05d.parquet"))
      }
      val q = StreamingCorpusRefresh.start(s, in, batch2core.schema,
        "text", "doc_id", t, ckpt, maxFilesPerTrigger = 1)
      q.awaitTermination()
      require(graft.operators.SnapshotTable.versions(t) == Seq(1L, 2L),
        "only the novel shard may land a corpus version")
      graft.operators.SnapshotTable.read(s, t)
        .select("doc_id", "lang", "source", "n_chars", "content_hash")
        .orderBy("doc_id")
    },

    // X24: a LIVE MV over a snapshot table — the x22 history (clustered
    // bootstrap of even keys, R43 merge of decimal price updates +
    // deletes, Append of odd keys) is followed off the manifest log alone,
    // no changeset feed; each micro-batch advances the per-status rollup
    // by exactly one base version (the in-gate require proves three MV
    // versions reflecting base v3). The oracle recomputes the final
    // rollup over the live row set — a drifted fold at any link breaks
    // the hash. Replay/out-of-order no-ops and ceiling-vs-latest
    // equivalence are SnapshotIvmTailSpec's.
    Gate("x24_tail_ivm",
      // X24: the maintained rollup ≡ a recompute over the live row set
      // (updates +10 on keys ≡0 mod 6, deletes on ≡0 mod 10 except updated,
      // odd keys appended unchanged)
      """WITH live AS (
        |  SELECT o_orderstatus,
        |    CAST(o_totalprice AS DECIMAL(18,2)) +
        |      CASE WHEN o_orderkey % 6 = 0 THEN 10 ELSE 0 END AS price
        |  FROM orders
        |  WHERE NOT (o_orderkey % 10 = 0 AND o_orderkey % 6 <> 0)
        |)
        |SELECT o_orderstatus, count(*) AS n, CAST(sum(price) AS DOUBLE) AS sum_price
        |FROM live GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
      val base = graft.Scratch.fresh("x24_base")
      val mv = graft.Scratch.fresh("x24_mv")
      val ckpt = graft.Scratch.fresh("x24_ckpt")
      val dec182 = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)
      val o = Tables(s, dir).orders.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec182).as("price"))
      graft.operators.SnapshotTable.commit(s, base,
        o.filter(col("o_orderkey") % 2 === 0)
          .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey"))
      val upd = o.filter(col("o_orderkey") % 6 === 0)
        .withColumn("price", (col("price") + 10).cast(dec182))
        .withColumn("op", lit("U"))
      val del = o.filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 6 =!= 0)
        .withColumn("op", lit("D"))
      graft.operators.SnapshotTable.merge(s, base, upd.unionByName(del), Seq("o_orderkey"))
      graft.operators.SnapshotTable.commit(s, base,
        o.filter(col("o_orderkey") % 2 === 1), mode = graft.operators.SnapshotTable.Append)
      val q = SnapshotIvmTail.start(s, base, mv, Seq("o_orderkey"),
        Seq("o_orderstatus"), Seq("price"), ckpt, maxFilesPerTrigger = 1)
      q.awaitTermination()
      require(graft.operators.SnapshotTable.versions(mv).size == 3 &&
        graft.operators.SnapshotIvm.reflectedVersion(mv) == 3L,
        "tail must advance the MV one base version per batch to v3")
      graft.operators.SnapshotTable.read(s, mv)
        .select(col("o_orderstatus"), col("n"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("o_orderstatus")
    },

    // X25: the always-on retrieval loop end to end — the x23 crawl shards
    // stream into the deduped corpus (novel docs only, atomic Appends),
    // then the SEARCH INDEX follows the corpus's manifest log and serves
    // BM25 FROM ITS STATE. The oracle recomputes bm25 over the
    // first-arrival corpus content in SQL, so a shard that leaked a
    // duplicate into the index, a lost novel doc, or any scoring drift
    // across the two commit-protocol hops breaks the hash. Insert-only
    // enforcement and replay no-ops are SearchIndexTailSpec's.
    Gate("x25_live_search", {
      // X25: bm25 over the first-arrival corpus content — both streaming
      // hops (crawl → corpus, corpus log → index) must be invisible
      """WITH all_docs AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 3 <> 2 THEN 0 ELSE 1 END AS b
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 1
        |  FROM documents WHERE doc_id % 3 <> 2 AND doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text, 1
        |  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
        |),
        |ranked AS (
        |  SELECT doc_id, text,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY b, doc_id) AS rn
        |  FROM all_docs
        |),
        |corpus AS (SELECT doc_id, text FROM ranked WHERE rn = 1),
        |""".stripMargin +
        graft.operators.LlmOps.bm25OracleSql("corpus",
          Seq("dup", "merge", "vector", "spark", "quantum"), 50)
    }) { (s, dir) =>
      import java.nio.file.Paths
      val t = graft.Scratch.fresh("x25_corpus")
      val in = graft.Scratch.fresh("x25_in")
      val ckpt1 = graft.Scratch.fresh("x25_ckpt1")
      val idx = graft.Scratch.fresh("x25_idx")
      val ckpt2 = graft.Scratch.fresh("x25_ckpt2")
      val docs = Tables(s, dir).documents
        .select("doc_id", "lang", "source", "n_chars", "text")
      val batch1 = docs.filter(col("doc_id") % 3 =!= 2)
      val recrawl = batch1.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val batch2core = docs.filter(col("doc_id") % 3 === 2)
      val inBatchDup = batch2core.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L)
      graft.operators.IncrementalCorpus.bootstrap(s, t, batch1, "text", "doc_id")
      Seq(batch2core, recrawl, inBatchDup).zipWithIndex.foreach { case (df, i) =>
        graft.Scratch.writeSingleParquet(df, Paths.get(in, f"shard-$i%05d.parquet"))
      }
      StreamingCorpusRefresh.start(s, in, batch2core.schema,
        "text", "doc_id", t, ckpt1, maxFilesPerTrigger = 1).awaitTermination()
      SearchIndexTail.start(s, t, "text", "doc_id", idx, ckpt2,
        maxFilesPerTrigger = 1).awaitTermination()
      StreamingSearchIndex.search(s, idx, "doc_id",
        Seq("dup", "merge", "vector", "spark", "quantum"), k = 50)
    },

    // X4 batch equivalent: deterministic first-occurrence per event_id (the
    // streaming form keeps the first arrival; batch pins "first" with a
    // total order so both engines agree).
    Gate("x4_dedup_batch",
      """SELECT event_id, ts, user_id, event_type, value FROM (
        |  SELECT event_id, ts, user_id, event_type, value,
        |    row_number() OVER (PARTITION BY event_id
        |      ORDER BY ts, user_id, event_type, value) AS rn
        |  FROM events
        |) WHERE rn = 1""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_id")
        .orderBy("ts", "user_id", "event_type", "value")
      Tables(s, dir).events
        .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("__rn") === 1)
        .select("event_id", "ts", "user_id", "event_type", "value")
    }
  )

}
