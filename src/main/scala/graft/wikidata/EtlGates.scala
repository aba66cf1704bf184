package graft.wikidata

import graft.Gate
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-visible oracle gates for the wd2sql ETL core (SURVEY.md §2.1
  * W3-W11): the Spark pipeline (dump framing → claim explode → rank filter →
  * per-type routing, reference: src/main.rs:69-93 + src/value.rs:201-261)
  * runs over the checked-in deterministic mini-dump
  * (data/etl_minidump.jsonl, generated by tools/gen_minidump.py), and each
  * output table is re-derived independently by DuckDB JSON SQL over the SAME
  * file. One gate per output table — a true differential check of the
  * reference semantics that the driver can see, complementing the in-suite
  * EtlDifferentialSpec fuzz.
  *
  * The mini-dump plants every routing edge case: deprecated ranks, junk and
  * blank lines, monolingual text with/without `text`, lexeme form/sense
  * entity refs, a malformed entity id, dimensionless and malformed quantity
  * amounts, bounds, and zero month/day timestamps.
  */
object EtlGates {

  /** Absolute path: the driver's DuckDB process runs the oracle SQL from an
    * unknown cwd, so both sides hardcode the repo checkout (env-overridable
    * for other checkouts). */
  private def dumpPath: String =
    sys.env.getOrElse("GRAFT_ETL_DUMP", "/root/repo/data/etl_minidump.jsonl")

  /** W22 fixtures (tools/gen_changeset.py): an entity-revision changeset
    * against the mini-dump, and the equivalent full v2 dump the oracle
    * rebuilds from. */
  private def changesetPath: String =
    sys.env.getOrElse("GRAFT_ETL_CHANGESET", "/root/repo/data/etl_changeset.jsonl")
  private def dumpV2Path: String =
    sys.env.getOrElse("GRAFT_ETL_DUMP_V2", "/root/repo/data/etl_minidump_v2.jsonl")

  /** cache=false: each gate query is a separate Verify plan over a ~300
    * entity dump — caching here would pin 8 separate cores without an
    * unpersist hook. */
  private def tables(s: SparkSession): WikidataTables =
    WikidataEtl.run(DumpReader.read(s, dumpPath), cache = false)

  private def linesOf(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
  }

  def gates: Seq[Gate] = Seq(
    // W13: the JDBC sink round-trip, driver-visible — ETL the mini-dump,
    // write all 8 tables + reference-style indices into an embedded Derby
    // database, read `meta` back over JDBC and gate it against the same
    // DuckDB oracle as the direct path (SQLite itself stays waived: no
    // SQLite JDBC driver exists in the zero-egress container).
    Gate("w13_jdbc_roundtrip", metaOracleFor(dumpPath)) { (s, _) =>
      val db  = s"memory:graftgate${java.util.UUID.randomUUID().toString.take(8)}"
      val url = s"jdbc:derby:$db;create=true"
      JdbcSink.writeTables(tables(s), url)
      s.read.jdbc(url, "\"meta\"", new java.util.Properties())
        .select("id", "label", "description")
    },
    // X3: the watched-directory streaming ETL, driver-visible — drop the
    // mini-dump into a fresh watched dir, drain it with AvailableNow, read
    // the streamed `meta` table back and gate against the same oracle:
    // streaming and batch routing cannot drift without failing the hash.
    Gate("x3_stream_etl", metaOracleFor(dumpPath)) { (s, _) =>
      val out = graft.Scratch.fresh("x3_out")
      graft.streaming.EtlStream.start(s, graft.Scratch.shards("x3_in", linesOf(dumpPath), 1),
        out, graft.Scratch.fresh("x3_ckpt")).awaitTermination()
      s.read.parquet(s"$out/meta")
    },
    // W12: the partitioned parquet sink, driver-visible — ETL the mini-dump,
    // write ALL 8 tables through `writeParquet` (repartition on id,
    // sortWithinPartitions for row-group stat pruning, concurrent submission
    // off one cached core), then read the `string` table back OFF DISK and
    // gate the round-tripped bytes against the same DuckDB oracle as the
    // direct w6 path: the sink cannot corrupt, drop, or re-route a row
    // without failing the hash.
    Gate("w12_parquet_sink",
      // identical derivation to w6 — the gate's value is that the Spark side
      // passed through the partitioned sink and a disk round-trip first
      stringOracle) { (s, _) =>
      val out = graft.Scratch.fresh("w12_sink")
      WikidataEtl.runFile(s, dumpPath, out, partitions = 4)
      s.read.parquet(s"$out/string")
    },
    // W17: CSV sink round-trip — the interchange format users actually hand
    // to other tools. Explicit schema on read (never inferSchema at scale),
    // header, quote-escaping, and multiLine so embedded delimiters/newlines
    // survive byte-exactly; gated against the same oracle as the direct w6
    // path. Scale caveat: multiLine CSV is not splittable — at 100 TB CSV is
    // an EXPORT format; columnar formats remain the processing path.
    Gate("w17_csv_roundtrip",
      // same again through the CSV, ORC and JSONL sinks (w17/w18/w19): the
      // format cannot corrupt, drop, or re-route a row without failing the hash
      stringOracle) { (s, _) =>
      val out = graft.Scratch.fresh("w17_csv")
      val str = tables(s).string
      str.write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(out)
      s.read.schema(str.schema)
        .option("header", "true").option("escape", "\"").option("multiLine", "true")
        .csv(out)
    },
    // W18: ORC sink round-trip — the other columnar ecosystem (Hive/Trino
    // interop); same stat-pruned, splittable properties as parquet.
    Gate("w18_orc_roundtrip", entityOracle) { (s, _) =>
      val out = graft.Scratch.fresh("w18_orc")
      tables(s).entity.write.mode("overwrite").orc(out)
      s.read.orc(out)
    },
    // W19: JSON-Lines sink round-trip — THE interchange format of LLM data
    // pipelines (and the reference's own input format). Line-delimited, so
    // splittable and streamable, unlike multiLine CSV; explicit schema on
    // read (JSON writes omit null fields — the schema restores them, and
    // at 100 TB inference would cost an extra full pass anyway).
    Gate("w19_jsonl_roundtrip", stringOracle) { (s, _) =>
      val out = graft.Scratch.fresh("w19_jsonl")
      val str = tables(s).string
      str.write.mode("overwrite").json(out)
      s.read.schema(str.schema).json(out)
    },
    // W22: incremental ingestion — ETL the v1 mini-dump to parquet, apply
    // the entity-revision changeset (LWW by lastrevid, deletion markers,
    // out-of-order revisions — tools/gen_changeset.py plants all of it),
    // and gate the resulting tables against a DuckDB FULL REBUILD of the
    // equivalent v2 dump: incremental and from-scratch cannot drift without
    // failing the hash. Two grains: `string` (claim rows replaced wholesale
    // per revised entity) and `meta` (entity rows — deletions visible).
    Gate("w22_incremental_etl",
      // W22: the oracle rebuilds from the v2 FULL dump — the Spark side never
      // reads that file, it derives the same state from (v1, changeset)
      stringOracleFor(dumpV2Path)) { (s, _) =>
      val base = graft.Scratch.fresh("w22_base")
      WikidataEtl.runFile(s, dumpPath, base)
      val next = IncrementalEtl.applyFile(s, base, changesetPath)
      next.unpersist() // single-consumer gate: the shared delta cache is idle
      next.string
    },
    Gate("w22_incremental_meta", metaOracleFor(dumpV2Path)) { (s, _) =>
      val base = graft.Scratch.fresh("w22m_base")
      WikidataEtl.runFile(s, dumpPath, base)
      val next = IncrementalEtl.applyFile(s, base, changesetPath)
      next.unpersist()
      next.meta
    },
    // W40: W22 over the 10-table qualified surface — base = the qualified
    // sink run of v1, changeset applied with statement ids + qualifier
    // snaks retained (revised entities carry fresh qualifiers, the
    // regenerated fixtures plant them), gate = the QUALIFIER table of the
    // incremental result vs a DuckDB full qualifier re-derivation from
    // the v2 dump: incremental and from-scratch cannot drift at the
    // qualifier grain either.
    Gate("w40_incremental_qualifiers",
      // W40: the qualifier derivation over the FULL v2 dump — the oracle
      // never sees the changeset; only a correct LWW apply matches it
      qualifiersOracleFor(dumpV2Path)) { (s, _) =>
      val base = graft.Scratch.fresh("w40_base")
      WikidataEtl.runFile(s, dumpPath, base, partitions = 4, surface = Surface.Qualified)
      val next = IncrementalEtl.applyFile(s, base, changesetPath, Surface.Qualified)
      next.unpersist()
      next.qualifiers.get
    },
    // W43: the qualified JDBC sink — writeTables iterates byName, so a
    // qualified run lands all 10 tables (+ reference-style per-column
    // indices) in the relational sink; the qualifier table read back over
    // JDBC gates against the same re-derivation as the direct w34 path.
    Gate("w43_jdbc_qualified",
      // W43: the identical w34 oracle — the JDBC round-trip is invisible
      qualifiersOracle) { (s, _) =>
      val db  = s"memory:graftq${java.util.UUID.randomUUID().toString.take(8)}"
      val url = s"jdbc:derby:$db;create=true"
      val t = WikidataEtl.run(DumpReader.read(s, dumpPath, Surface.Qualified), cache = false)
      JdbcSink.writeTables(t, url)
      s.read.jdbc(url, "\"qualifiers\"", new java.util.Properties())
        .select("id", "property_id", "claim_id", "qual_property_id", "kind",
          "string", "entity_id", "latitude", "longitude", "coord_precision",
          "globe_id", "amount", "lower_bound", "upper_bound", "unit_id",
          "time", "time_precision")
    },
    // X12: the same convergence, through the streaming refresh loop — the
    // changeset sharded into 2 files, drained one file per micro-batch into
    // R40 snapshot tables with the cross-batch revision guard live; the
    // final meta snapshot must STILL equal the DuckDB full rebuild of v2,
    // whatever batch boundaries the source picked. (Two batches exercise
    // the guard; the 4-shard convergence sweep is the spec's. Gate cost is
    // per-commit scheduling — 9 snapshot commits per batch — not data.)
    Gate("x12_stream_incremental",
      // X12 converges to the same state as W22 — same v2 full-rebuild oracle,
      // reached through sharded micro-batches + snapshot commits instead
      metaOracleFor(dumpV2Path)) { (s, _) =>
      val root = graft.Scratch.fresh("x12_tables")
      val v1 = WikidataEtl.run(DumpReader.read(s, dumpPath), cache = true)
      graft.streaming.IncrementalEtlStream.bootstrap(s, root, v1)
      v1.unpersist()
      graft.streaming.IncrementalEtlStream.start(s,
        graft.Scratch.shards("x12_in", linesOf(changesetPath), 2), root,
        graft.Scratch.fresh("x12_ckpt")).awaitTermination()
      graft.operators.SnapshotTxn.readAt(s, root, "meta")
    },
    // X29: the X12 refresh loop over the COMPLETE 13-table surface — W55's
    // full LWW apply as a stream: bootstrap = the W54 full run of v1, the
    // changeset sharded into 2 files and drained one per micro-batch with
    // the cross-batch revision guard live; the final ALIASES snapshot must
    // equal the DuckDB full re-derivation from the v2 dump the stream
    // never reads — incremental, streaming and from-scratch cannot drift
    // at the links grain, whatever batch boundaries the source picked.
    Gate("x29_stream_incremental_full",
      // X29: the w55 derivation (aliases over the FULL v2 dump) — the
      // streaming LWW apply, its batch boundaries and the revision guard
      // are all invisible; only a correct 13-table streamed apply matches.
      aliasesOracleFor(dumpV2Path)) { (s, _) =>
      val root = graft.Scratch.fresh("x29_tables")
      val v1 = WikidataEtl.run(DumpReader.read(s, dumpPath, Surface.Full), cache = true)
      graft.streaming.IncrementalEtlStream.bootstrap(s, root, v1)
      v1.unpersist()
      graft.streaming.IncrementalEtlStream.start(s,
        graft.Scratch.shards("x29_in", linesOf(changesetPath), 2), root,
        graft.Scratch.fresh("x29_ckpt"), Surface.Full).awaitTermination()
      graft.operators.SnapshotTxn.readAt(s, root, "aliases")
    },
    // X30: the W56 fuzzy ANY-name index maintained INSIDE the X29 refresh
    // loop — every micro-batch lands one batch-tagged Append of the
    // touched entities' current names between the data commits and the
    // revision mark (the crash contract); a manual replay of a consumed
    // batch must move nothing. The final stored lookup answers over the
    // CURRENT published name universe and replays w57's brute-force v2
    // oracle: batch boundaries, the guard, tags and the appends are all
    // invisible to the answer.
    Gate("x30_stream_any_name_index",
      // X30: w57's oracle again — the streamed maintenance loop, its batch
      // boundaries, tags and the revision guard are all invisible.
      anyNameFuzzyOracleFor(dumpV2Path)) { (s, _) =>
      import org.apache.spark.sql.functions.min
      val root = graft.Scratch.fresh("x30_tables")
      val ckpt = graft.Scratch.fresh("x30_ckpt")
      val idx  = graft.Scratch.fresh("x30_index")
      val v1 = WikidataEtl.run(DumpReader.read(s, dumpPath, Surface.Full), cache = true)
      graft.streaming.IncrementalEtlStream.bootstrap(s, root, v1)
      graft.operators.EditJoin.saveIndex(s, idx, QueryApi(v1).anyNames,
        "id", "name", files = 32)
      v1.unpersist()
      val lines = linesOf(changesetPath)
      val half = (lines.size + 1) / 2
      graft.streaming.IncrementalEtlStream.start(s,
        graft.Scratch.shards("x30_in", lines, 2), root, ckpt, Surface.Full,
        anyNameIndex = Some(idx)).awaitTermination()
      // replaying a consumed batch moves neither the tables nor the index
      val vIdx = graft.operators.SnapshotTable.latestVersion(idx)
      val vTxn = graft.operators.SnapshotTxn.latestTxn(root)
      import s.implicits._
      graft.streaming.IncrementalEtlStream.applyBatch(s,
        lines.take(half).toDF("value"), root, Surface.Full, Some(idx),
        Some(graft.streaming.BatchTags.tag(
          graft.streaming.BatchTags.namespace(ckpt), "0")))
      require(graft.operators.SnapshotTable.latestVersion(idx) == vIdx &&
        graft.operators.SnapshotTxn.latestTxn(root) == vTxn,
        "replayed batch must move neither the tables nor the index")
      val read = graft.operators.SnapshotTxn.cut(s, root)
      val current = QueryApi.anyNamesOf(read("meta"), read("aliases"))
      val base = current.agg(min(org.apache.spark.sql.functions.col("name")))
        .head().getString(0)
      val term = base.substring(0, base.length - 1)
      graft.operators.EditJoin.fuzzyLookupStored(s, idx, current, "id", "name", term)
        .select("id", "name", "dist")
        .orderBy("id", "name")
    },
    // X13: X3's watched-directory ETL published EXACTLY-ONCE through R40
    // snapshot commits — the mini-dump split into 2 shards drained one per
    // micro-batch, each batch Append-committed to every table tagged with
    // its batch id; the final meta SNAPSHOT must equal the same DuckDB
    // oracle as x3's bare-append path. Replay idempotency and partial-crash
    // repair are EtlSnapshotStreamSpec's.
    Gate("x13_stream_snapshot",
      // X13 publishes the same derivation through tagged snapshot commits
      metaOracleFor(dumpPath)) { (s, _) =>
      val root = graft.Scratch.fresh("x13_tables")
      graft.streaming.EtlStream.startSnapshot(s,
        graft.Scratch.shards("x13_in", linesOf(dumpPath), 2), root,
        graft.Scratch.fresh("x13_ckpt")).awaitTermination()
      graft.operators.SnapshotTxn.readAt(s, root, "meta")
    },
    // X28: X13's exactly-once publication over the COMPLETE 13-table
    // surface — the mini-dump split into 2 shards drained one per
    // micro-batch under the FULL pruned parse, each batch
    // Append-committed to all 13 tables (the reference's 8 +
    // qualifiers/spine + sitelinks/aliases) tagged with its batch id.
    // The streamed ALIASES snapshot gates against the same DuckDB
    // re-derivation as the direct w52 path: batch boundaries and the
    // streaming path are invisible at the links grain too. Replay
    // idempotency and partial-crash repair over the 13-table surface are
    // EtlSnapshotStreamSpec's.
    Gate("x28_stream_full",
      // X28: the identical w52 derivation — sharding, micro-batch
      // boundaries and the snapshot publication protocol are invisible.
      aliasesOracleFor(dumpPath)) { (s, _) =>
      val root = graft.Scratch.fresh("x28_tables")
      graft.streaming.EtlStream.startSnapshot(s,
        graft.Scratch.shards("x28_in", linesOf(dumpPath), 2), root,
        graft.Scratch.fresh("x28_ckpt"), Surface.Full).awaitTermination()
      // all 13 surfaces must have been published by one batch-tagged txn
      val pinned = graft.operators.SnapshotTxn.tableVersions(root).keySet
      require(graft.operators.SnapshotTxn.tagOf(root).isDefined &&
        Surface.Full.tableNames.forall(pinned), "full streaming run must publish " +
          s"all 13 tables in a tagged txn; pinned: ${pinned.toSeq.sorted.mkString(", ")}")
      graft.operators.SnapshotTxn.readAt(s, root, "aliases")
    },
    // W34: qualifier routing — the reference DROPS qualifiers (its
    // ClaimValueData keeps only the mainsnak), so this table is a strict
    // superset of its surface. One row per qualifier snak of a surviving
    // claim, 7-way-routed like the main tables but flattened under a `kind`
    // discriminator; gated against a full DuckDB re-derivation from the
    // same dump.
    Gate("w34_etl_qualifiers", qualifiersOracle) { (s, _) =>
      WikidataEtl.qualifiersTable(DumpReader.read(s, dumpPath, Surface.Qualified))
    },
    // W59: statement REFERENCES — the provenance surface the reference
    // throws away with the qualifiers (its ClaimValueData keeps only the
    // mainsnak): one row per reference snak of a surviving statement,
    // (claim_id, ref_idx) reconstructing each citation record, routed
    // under the same flattened 7-way kind law as W34. Gated against a
    // full DuckDB re-derivation from the raw dump (references unnested
    // with a 0-based record index, snak maps walked like the claims map).
    Gate("w59_etl_references",
      // W59: the reference table re-derived from the raw dump — record
      // index, snak-map walk, 7-way routing, deprecated drop, unencodable
      // entity-ref drop, all replayed.
      referencesOracleFor(dumpPath)) { (s, _) =>
      WikidataEtl.referencesTable(DumpReader.read(s, dumpPath, Surface.Full))
    },
    // W60: the provenance grain under the 13-table incremental apply —
    // base = the W54 full run of v1 on disk, the changeset applied with
    // Surface.Full (revised entities carry fresh references in the
    // regenerated fixtures), and the resulting REFERENCES table gated
    // against a DuckDB full re-derivation from the v2 dump the Spark side
    // never reads: incremental and from-scratch cannot drift at the
    // citation grain either.
    // W61: the provenance-coverage rollup — per property: statements,
    // statements carrying at least one citation, citation records.
    Gate("w61_reference_coverage",
      // W61: per-property rollup over the surviving statements.
      s"""$corePrefix, rstat AS (
         |  SELECT property_id,
         |    coalesce(len(from_json(json_extract(claim, '$$.references'), '["JSON"]')), 0) AS nrefs
         |  FROM claims WHERE coalesce(claim->>'$$.rank','normal') <> 'deprecated'
         |)
         |SELECT property_id,
         |  CAST(count(*) AS BIGINT) AS n_statements,
         |  CAST(sum(CASE WHEN nrefs > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_referenced,
         |  CAST(sum(nrefs) AS BIGINT) AS n_ref_records
         |FROM rstat GROUP BY 1""".stripMargin) { (s, _) =>
      WikidataEtl.referenceCoverage(DumpReader.read(s, dumpPath, Surface.Full))
    },
    // W62: the reference README's own conjunctive pattern (W15) under a
    // PROVENANCE requirement — every conjunct satisfied by a SOURCED claim
    // (W59). The conjuncts are data-derived on BOTH sides: the least
    // entity carrying >= 2 distinct sourced entity-valued (pid, qid)
    // pairs contributes its two least pairs — nothing hard-coded, and the
    // whole chain (references parse, spine, sourced cut, conjunction) is
    // load-bearing in the derivation itself.
    Gate("w62_sourced_conjunctive",
      // W62: the sourced conjunction re-derived end to end — sourced claim
      // ids from the references unnest, the entity-valued spine
      // (project-first, the DuckDB JSON-optimizer lesson), the same
      // least-entity/least-pairs conjunct derivation, and the EXISTS chain.
      s"""${refPrefixFor(dumpPath)}, spineraw AS (
         |  SELECT id, property_id,
         |    claim->>'$$.id' AS claim_id,
         |    claim->>'$$.mainsnak.snaktype' AS snaktype,
         |    claim->>'$$.mainsnak.datavalue.type' AS vtype,
         |    claim->>'$$.mainsnak.datavalue.value.id' AS vid,
         |    coalesce(claim->>'$$.rank','normal') AS rank
         |  FROM claims
         |), spine AS (
         |  SELECT id, property_id, claim_id, ${encodeIdSql("vid")} AS entity_id
         |  FROM spineraw
         |  WHERE rank <> 'deprecated' AND snaktype = 'value'
         |    AND vtype = 'wikibase-entityid'
         |), srcspine AS (
         |  SELECT * FROM spine
         |  WHERE entity_id IS NOT NULL
         |    AND claim_id IN (SELECT DISTINCT claim_id FROM rrefs)
         |), probe AS (
         |  SELECT min(id) AS pr FROM (
         |    SELECT id FROM (SELECT DISTINCT id, property_id, entity_id FROM srcspine)
         |    GROUP BY id HAVING count(*) >= 2)
         |), cpair AS (
         |  SELECT p, q, row_number() OVER (ORDER BY p, q) AS rn FROM (
         |    SELECT DISTINCT property_id AS p, entity_id AS q FROM srcspine
         |    WHERE id = (SELECT pr FROM probe))
         |  ORDER BY p, q LIMIT 2
         |), metaq AS (
         |  SELECT id, e->>'$$.labels.en.value' AS label,
         |    e->>'$$.descriptions.en.value' AS description
         |  FROM encoded WHERE id IS NOT NULL
         |)
         |SELECT m.id, m.label, m.description FROM metaq m
         |WHERE EXISTS (SELECT 1 FROM srcspine s JOIN cpair c ON c.rn = 1
         |  AND s.property_id = c.p AND s.entity_id = c.q WHERE s.id = m.id)
         |  AND EXISTS (SELECT 1 FROM srcspine s JOIN cpair c ON c.rn = 2
         |  AND s.property_id = c.p AND s.entity_id = c.q WHERE s.id = m.id)
         |ORDER BY m.id""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.functions.{col, countDistinct, min, struct}
      val t = WikidataEtl.run(DumpReader.read(s, dumpPath, Surface.Full))
      val sourced = t.statements.get
        .join(t.references.get.select("claim_id").distinct(), Seq("claim_id"), "left_semi")
      val probe = sourced.groupBy("id")
        .agg(countDistinct(struct(col("property_id"), col("entity_id"))).as("n"))
        .filter(col("n") >= 2).agg(min(col("id"))).head().getLong(0)
      val conjuncts = sourced.filter(col("id") === probe)
        .select("property_id", "entity_id").distinct()
        .orderBy("property_id", "entity_id").limit(2).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      require(conjuncts.size == 2, s"fixture must yield 2 conjuncts, got $conjuncts")
      val out = QueryApi(t).conjunctiveSourcedSearch(conjuncts)
        .select("id", "label", "description").orderBy("id")
      t.unpersist()
      out
    },
    Gate("w60_incremental_references",
      // W60: the identical derivation over the FULL v2 dump — the oracle
      // never sees the changeset; only a correct 13-table LWW apply matches
      // at the citation grain.
      referencesOracleFor(dumpV2Path)) { (s, _) =>
      val base = graft.Scratch.fresh("w60_base")
      WikidataEtl.runFile(s, dumpPath, base, partitions = 4, surface = Surface.Full)
      val next = IncrementalEtl.applyFile(s, base, changesetPath, Surface.Full)
      next.unpersist()
      next.references.get
    },
    // W38: the qualifier-aware ETL run end-to-end through the parquet
    // sink — all 10 tables written off one cached qualified parse, the
    // `qualifiers` table read back OFF DISK and gated against the same
    // DuckDB re-derivation as the direct w34 path: the sink cannot
    // corrupt, drop, or re-route a qualifier row without failing the
    // hash, and the spine+qualifiers ride the same repartition/stat-sort
    // discipline as the reference's 8.
    Gate("w38_qualified_sink",
      // W38: identical oracle as w34 — the sink round-trip is invisible
      qualifiersOracle) { (s, _) =>
      val out = graft.Scratch.fresh("w38_sink")
      WikidataEtl.runFile(s, dumpPath, out, partitions = 4, surface = Surface.Qualified)
      s.read.parquet(s"$out/qualifiers")
    },
    // W35: temporal claim validity — the query qualifiers exist for, and
    // one the reference's users cannot express at all. Entity-valued claims
    // valid at 1950-06-01 under the min(P580)/max(P582) span law; the
    // DuckDB oracle rebuilds statements, spans, and the validity filter
    // from the raw dump.
    Gate("w35_valid_at",
      s"""$temporalPrefixAlive
         |SELECT id, property_id, claim_id, entity_id FROM alive""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.functions.{lit, col}
      val ents = DumpReader.read(s, dumpPath, Surface.Qualified)
      TemporalClaims.validAt(
        WikidataEtl.entityStatements(ents),
        WikidataEtl.qualifiersTable(ents),
        lit("1950-06-01 00:00:00").cast("timestamp"))
        .select(col("id"), col("property_id"), col("claim_id"), col("entity_id"))
    },
    // W46: TRUTHY statements — the BestRank law (wdt: vs p:): where an
    // entity has any preferred statement for a property only those are
    // truthy, else the normals; the reference flattens preferred ≡
    // normal, so this is a semantics the SQLite user cannot get. The
    // mini-dump plants 153 preferred statements, including MIXED-TYPE
    // contests (a preferred quantity or novalue next to normal entity
    // statements): the flag must aggregate over the whole group, so a
    // per-value-family flag diverges here (the round-9 advisor's case).
    Gate("w46_truthy",
      // W46: the BestRank law re-derived — rank-kept statements, the
      // per-group any-preferred flag over ALL of them (every value family,
      // novalue/somevalue included), then the entity-family routing of the
      // survivors. The flag-before-routing order is the point: a preferred
      // quantity in the group must suppress its normal entity statements.
      s"""$corePrefix$truthyCtes
         |SELECT id, property_id, claim_id,
         |  ${encodeIdSql("v->>'$.id'")} AS entity_id
         |FROM tcore
         |WHERE snaktype = 'value' AND value_type = 'wikibase-entityid'
         |  AND ${encodeIdSql("v->>'$.id'")} IS NOT NULL""".stripMargin) { (s, _) =>
      WikidataEtl.truthyStatements(DumpReader.read(s, dumpPath, Surface.Qualified))
    },
    // W47: TRUTHY over the TYPED value tables — the BestRank cut composed
    // with the 7-way routing, i.e. the reference README's own query
    // ("the population of X") finally under wdt: semantics: the quantity
    // table of the truthy core returns only the preferred figure where
    // one exists. The mini-dump plants same-family contested quantity and
    // time groups so the cut removes real rows from both tables.
    Gate("w47_truthy_quantity",
      // W47: the w9/w10 typed-table bodies routed FROM THE TRUTHY CORE —
      // same projection laws, claim set cut by BestRank first.
      s"""$corePrefix$truthyCtes
         |SELECT id, property_id,
         |  try_cast(regexp_replace(v->>'$$.amount', '^\\+', '') AS DOUBLE) AS amount,
         |  try_cast(regexp_replace(v->>'$$.lowerBound', '^\\+', '') AS DOUBLE) AS lower_bound,
         |  try_cast(regexp_replace(v->>'$$.upperBound', '^\\+', '') AS DOUBLE) AS upper_bound,
         |  CASE WHEN v->>'$$.unit' = '1' THEN NULL
         |       ELSE CAST(regexp_extract(v->>'$$.unit', '[QqPpLl]([0-9]+)$$', 1) AS BIGINT)
         |         + CASE WHEN regexp_matches(v->>'$$.unit', '[Pp][0-9]+$$') THEN 1000000000
         |                WHEN regexp_matches(v->>'$$.unit', '[Ll][0-9]+$$') THEN 2000000000
         |                ELSE 0 END
         |  END AS unit_id
         |FROM tcore WHERE snaktype = 'value' AND value_type = 'quantity'""".stripMargin) { (s, _) =>
      WikidataEtl.quantityTable(
        WikidataEtl.truthyCore(DumpReader.read(s, dumpPath, Surface.Qualified)))
    },
    Gate("w47_truthy_time",
      s"""$corePrefix$truthyCtes
         |SELECT id, property_id,
         |  try_strptime(
         |    regexp_replace(regexp_replace(regexp_replace(v->>'$$.time', '^\\+', ''), '-00-', '-01-'), '-00T', '-01T'),
         |    '%Y-%m-%dT%H:%M:%SZ') AS time,
         |  coalesce(try_cast(v->>'$$.precision' AS INTEGER), 0) AS precision
         |FROM tcore WHERE snaktype = 'value' AND value_type = 'time'""".stripMargin) { (s, _) =>
      WikidataEtl.timeTable(
        WikidataEtl.truthyCore(DumpReader.read(s, dumpPath, Surface.Qualified)))
    },
    // W48: truthy × validAt — "what was the PREFERRED value at T": the
    // BestRank cut picks the statement the editors endorse, the temporal
    // cut decides whether it was in force at 1950-06-01. The mini-dump
    // plants preferred entity statements carrying their own P580/P582
    // spans (dead before T, starting after T, and alive at T) alongside
    // normals, so both cuts bite the same groups. Both are claim-keyed
    // filters on the spine — they compose as two cheap joins.
    Gate("w48_truthy_at",
      // W48: truthy × validAt — the truthy entity slice LEFT-joined to the
      // span law, alive at 1950-06-01. Both cuts re-derived independently.
      s"""$qualPrefix, $spansCte$truthyCtes
         |SELECT t.id, t.property_id, t.claim_id,
         |  ${encodeIdSql("t.v->>'$.id'")} AS entity_id
         |FROM tcore t LEFT JOIN spans p ON t.claim_id = p.claim_id
         |WHERE t.snaktype = 'value' AND t.value_type = 'wikibase-entityid'
         |  AND ${encodeIdSql("t.v->>'$.id'")} IS NOT NULL
         |  AND (p.valid_from IS NULL OR p.valid_from <= TIMESTAMP '1950-06-01 00:00:00')
         |  AND (p.valid_until IS NULL OR p.valid_until > TIMESTAMP '1950-06-01 00:00:00')""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.functions.{col, lit}
      val ents = DumpReader.read(s, dumpPath, Surface.Qualified)
      TemporalClaims.validAt(
        WikidataEtl.truthyStatements(ents),
        WikidataEtl.qualifiersTable(ents),
        lit("1950-06-01 00:00:00").cast("timestamp"))
        .select(col("id"), col("property_id"), col("claim_id"), col("entity_id"))
    },
    // W44: the temporal-coverage audit — per property of the claim spine:
    // claim count, how many carry any validity span, and the stated time
    // range; the sanity check a temporal-query user runs before trusting
    // validAt over a corpus.
    Gate("w44_temporal_coverage",
      // W44: the per-property rollup over the shared span/statement CTEs.
      s"""$temporalBase
         |SELECT s.property_id,
         |  CAST(count(*) AS BIGINT) AS n_claims,
         |  CAST(count(p.claim_id) AS BIGINT) AS n_temporal,
         |  min(p.valid_from) AS earliest_from,
         |  max(p.valid_until) AS latest_until
         |FROM stmts s LEFT JOIN spans p ON s.claim_id = p.claim_id
         |WHERE s.entity_id IS NOT NULL
         |GROUP BY s.property_id""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.functions.col
      val ents = DumpReader.read(s, dumpPath, Surface.Qualified)
      TemporalClaims.temporalCoverage(
        WikidataEtl.entityStatements(ents),
        WikidataEtl.qualifiersTable(ents))
        .select(col("property_id"), col("n_claims"), col("n_temporal"),
          col("earliest_from"), col("latest_until"))
    },
    // W42: the temporal DIFF — entity-valued claims whose in-force status
    // flipped between 1925 and 1985, tagged gained/lost; churn-sized by
    // construction (claims alive or dead at both times never survive).
    Gate("w42_temporal_diff",
      // W42: both alive cuts re-derived over the shared span/statement CTEs;
      // the status-flip filter and gained/lost tagging replayed inline.
      s"""$temporalBase
         |SELECT s.id, s.property_id, s.claim_id, s.entity_id,
         |  CASE WHEN ((p.valid_from IS NULL OR p.valid_from <= TIMESTAMP '1985-01-01 00:00:00')
         |        AND (p.valid_until IS NULL OR p.valid_until > TIMESTAMP '1985-01-01 00:00:00'))
         |       THEN 'gained' ELSE 'lost' END AS change
         |FROM stmts s LEFT JOIN spans p ON s.claim_id = p.claim_id
         |WHERE s.entity_id IS NOT NULL
         |  AND ((p.valid_from IS NULL OR p.valid_from <= TIMESTAMP '1925-01-01 00:00:00')
         |       AND (p.valid_until IS NULL OR p.valid_until > TIMESTAMP '1925-01-01 00:00:00'))
         |   <> ((p.valid_from IS NULL OR p.valid_from <= TIMESTAMP '1985-01-01 00:00:00')
         |       AND (p.valid_until IS NULL OR p.valid_until > TIMESTAMP '1985-01-01 00:00:00'))""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.functions.{lit, col}
      val ents = DumpReader.read(s, dumpPath, Surface.Qualified)
      TemporalClaims.changedBetween(
        WikidataEtl.entityStatements(ents),
        WikidataEtl.qualifiersTable(ents),
        lit("1925-01-01 00:00:00").cast("timestamp"),
        lit("1985-01-01 00:00:00").cast("timestamp"))
        .select(col("id"), col("property_id"), col("claim_id"),
          col("entity_id"), col("change"))
    },
    // W37: "what was true at T", labeled — W35's surviving claims joined
    // to the meta table for both endpoints' labels; the composed question
    // the reference's users cannot ask at all (no qualifiers, no time).
    Gate("w37_temporal_labels",
      // W37: the temporal answer decorated with both endpoints' labels —
      // the meta derivation joined twice, LEFT so unlabeled entities keep
      // the reference's NULL semantics.
      s"""$temporalPrefixAlive, metaq AS (
         |  SELECT id, e->>'$$.labels.en.value' AS label
         |  FROM encoded WHERE id IS NOT NULL
         |)
         |SELECT v.claim_id, v.id, ml.label AS subject_label,
         |  v.property_id, v.entity_id, mo.label AS object_label
         |FROM alive v
         |LEFT JOIN metaq ml ON v.id = ml.id
         |LEFT JOIN metaq mo ON v.entity_id = mo.id""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.functions.lit
      val ents = DumpReader.read(s, dumpPath, Surface.Qualified)
      TemporalClaims.labeledAt(
        WikidataEtl.entityStatements(ents),
        WikidataEtl.qualifiersTable(ents),
        WikidataEtl.meta(ents),
        lit("1950-06-01 00:00:00").cast("timestamp"))
    },
    // W50: compressed-dump ingestion — the official dump SHIPPING formats
    // (wikidata ships .bz2/.gz; the reference needs a decompressing pipe,
    // src/main.rs reads plain stdin). The mini-dump is split into a .gz
    // shard and a .bz2 shard (mixed codecs in ONE load, both halves must
    // decode) and read through the ordinary path — the Hadoop codecs
    // trigger on extension. The meta output gates against the SAME oracle
    // as w4 over the uncompressed checked-in file: compression must be
    // byte-invisible. At scale the bz2 half is the story: bz2 is
    // SPLITTABLE, so one multi-GB official dump file parallelizes across
    // executors without pre-decompression.
    Gate("w50_compressed_dump",
      // W50: the identical w4 derivation over the UNCOMPRESSED file — the
      // Spark side read gz+bz2 shards; compression must be byte-invisible
      metaOracleFor(dumpPath)) { (s, _) =>
      import java.nio.file.{Files, Paths}
      val dir = graft.Scratch.fresh("w50_dump")
      val lines = linesOf(dumpPath)
      val half = (lines.size + 1) / 2
      def write(name: String, chunk: Seq[String],
          wrap: java.io.OutputStream => java.io.OutputStream): Unit = {
        val out = wrap(Files.newOutputStream(Paths.get(dir, name)))
        try out.write((chunk.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
      }
      write("shard-00000.jsonl.gz", lines.take(half),
        o => new java.util.zip.GZIPOutputStream(o))
      write("shard-00001.jsonl.bz2", lines.drop(half),
        o => new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(o))
      WikidataEtl.meta(DumpReader.read(s, dir))
    },
    // W51/W52: the name-and-link surface the reference drops — sitelinks
    // ("which enwiki article is this entity", the join every wiki-corpus
    // pipeline starts from) and EVERY language's aliases (meta keeps one
    // English label). Both are shuffle-free explodes of the Surface.Full
    // pruned parse; both re-derived in DuckDB from the raw dump.
    Gate("w51_sitelinks",
      // W51: sitelinks re-derived — map keys walked like the claims map.
      s"""$corePrefixMeta, slk AS (
         |  SELECT id, e, unnest(json_keys(e, '$$.sitelinks')) AS site
         |  FROM encoded WHERE id IS NOT NULL
         |)
         |SELECT id, site,
         |  json_extract(e, '$$.sitelinks."' || site || '"')->>'$$.title' AS title
         |FROM slk
         |WHERE json_extract(e, '$$.sitelinks."' || site || '"')->>'$$.title' IS NOT NULL""".stripMargin) { (s, _) =>
      WikidataEtl.sitelinksTable(DumpReader.read(s, dumpPath, Surface.Full))
    },
    Gate("w52_aliases",
      // W52: aliases re-derived — language keys, then each list unnested.
      aliasesOracleFor(dumpPath)) { (s, _) =>
      WikidataEtl.aliasesTable(DumpReader.read(s, dumpPath, Surface.Full))
    },
    // W55: the 13-table INCREMENTAL apply — W22's LWW law over the full
    // surface: base = the W54 full run of v1 written to parquet, the
    // entity-revision changeset applied with links retained (revised
    // entities carry fresh sitelinks/aliases — the regenerated fixtures
    // plant them), gate = the ALIASES table of the incremental result vs
    // a DuckDB full re-derivation from the v2 dump: incremental and
    // from-scratch cannot drift at the links grain either.
    Gate("w55_incremental_full",
      // W55: the aliases derivation over the FULL v2 dump — the oracle never
      // sees the changeset; only a correct 13-table LWW apply matches it.
      aliasesOracleFor(dumpV2Path)) { (s, _) =>
      val base = graft.Scratch.fresh("w55_base")
      WikidataEtl.runFile(s, dumpPath, base, partitions = 4, surface = Surface.Full)
      val next = IncrementalEtl.applyFile(s, base, changesetPath, Surface.Full)
      next.unpersist()
      next.aliases.get
    },
    // W54: the COMPLETE one-pass superset run — all 13 tables (the
    // reference's 8 + qualifiers/spine + sitelinks/aliases) off ONE
    // cached parse of the full pruned schema, pushed through the
    // concurrent stat-sorted parquet sink; the aliases table read back
    // OFF DISK gates against the same DuckDB re-derivation as the direct
    // w52 path — the "switch from wd2sql" entry point cannot drop or
    // corrupt a surface without failing a hash.
    Gate("w54_full_sink",
      // W54: the identical w52 derivation — the 13-table run + sink
      // round-trip is invisible.
      aliasesOracleFor(dumpPath)) { (s, _) =>
      val out = graft.Scratch.fresh("w54_sink")
      WikidataEtl.runFile(s, dumpPath, out, partitions = 4, surface = Surface.Full)
      s.read.parquet(s"$out/aliases")
    },
    // W53: any-name lookup — W14's question asked the way users ask it:
    // "find the entity called X" must match labels AND aliases. The probe
    // term is data-derived on both sides (the alphabetically-least alias),
    // nothing hard-coded.
    Gate("w53_any_name_lookup",
      // W53: the data-derived probe (min alias) against labels ∪ aliases.
      s"""$corePrefixMeta, ak AS (
         |  SELECT id, e, unnest(json_keys(e, '$$.aliases')) AS language
         |  FROM encoded WHERE id IS NOT NULL
         |), al AS (
         |  SELECT id, language,
         |    unnest(from_json(json_extract(e, '$$.aliases."' || language || '"'), '["JSON"]')) AS a
         |  FROM ak
         |), names AS (
         |  SELECT id, a->>'$$.value' AS alias FROM al WHERE a->>'$$.value' IS NOT NULL
         |), term AS (SELECT min(alias) AS t FROM names
         |), lbl AS (
         |  -- project BEFORE filtering: a JSON ->> extract compared inside a
         |  -- multi-predicate WHERE trips the DuckDB JSON-optimizer cast bug
         |  SELECT id, e->>'$$.labels.en.value' AS label
         |  FROM encoded WHERE id IS NOT NULL
         |)
         |SELECT DISTINCT id FROM (
         |  SELECT id FROM lbl WHERE label = (SELECT t FROM term)
         |  UNION ALL
         |  SELECT id FROM names WHERE alias = (SELECT t FROM term)
         |)""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.functions.{col, min}
      val aliases = WikidataEtl.aliasesTable(DumpReader.read(s, dumpPath, Surface.Full))
      val meta = WikidataEtl.meta(DumpReader.read(s, dumpPath))
      val term = aliases.agg(min(col("alias"))).head().getString(0)
      meta.filter(col("label") === term).select("id")
        .unionAll(aliases.filter(col("alias") === term).select("id"))
        .distinct()
    },
    // W56: typo-tolerant ANY-name lookup — W32's fuzzy machinery over the
    // W53 name universe (labels ∪ every language's aliases), through the
    // PERSISTED W33-style range-clustered index. The probe term is
    // data-derived on BOTH sides (the alphabetically-least name with its
    // last character dropped — nothing hard-coded); the oracle answers
    // by brute-force levenshtein scan of the same union, so the index, its
    // footer-stats pruning (asserted in-gate) and the store are invisible.
    Gate("w56_fuzzy_any_name",
      // W56: brute-force levenshtein over labels ∪ aliases with the same
      // data-derived term (min name, last char dropped) — the variant
      // index, the persisted store and its footer pruning are all invisible.
      anyNameFuzzyOracleFor(dumpPath)) { (s, _) =>
      import org.apache.spark.sql.functions.{col, min}
      val api = QueryApi(WikidataEtl.run(DumpReader.read(s, dumpPath, Surface.Full), cache = false))
      // drop the min name's LAST character: every sibling name one
      // insertion away (the whole alphaN family) is an ed-1 hit, so the
      // gate discriminates across many ids, not one
      val base = api.anyNames.agg(min(col("name"))).head().getString(0)
      val term = base.substring(0, base.length - 1)
      val t = graft.Scratch.fresh("w56_index")
      api.saveAnyNameIndex(s, t, files = 32)
      val hashes = graft.operators.EditJoin.termVariantHashes(term)
      val (kept, skipped) = graft.operators.SnapshotTable.prunedFiles(s, t,
        col("__h").isin(hashes: _*))
      require(skipped.nonEmpty && kept.size <= hashes.size,
        s"stats pruning must confine the any-name probe: kept ${kept.size}, skipped ${skipped.size}")
      api.byAnyNameFuzzyStored(s, t, term)
        .select(col("id"), col("name"), col("dist"))
        .orderBy("id", "name")
    },
    // W57: the W56 any-name index under ENTITY CHURN — W36's append-only
    // maintenance law wired to W22's changeset apply: build the index on
    // v1's names, apply the full 13-table changeset in one pass, append
    // ONE delta commit of just the TOUCHED entities' current names (their
    // variants make new/renamed names findable; stale variants of renamed
    // or deleted entities self-neutralize at the exact verify against the
    // CURRENT name universe). The lookup replays the SAME brute-force
    // oracle as w56 but over the v2 dump the Spark side never reads —
    // only a correct apply + a correct append can match. The in-gate
    // require proves maintained ≡ fold-and-rebuild, row-exact.
    Gate("w57_fuzzy_index_refresh",
      // W57: the identical brute force over the FULL v2 dump — the Spark
      // side builds on v1 and maintains by append; only a correct changeset
      // apply plus a correct delta append (stale variants self-neutralized)
      // can match the v2 name universe.
      anyNameFuzzyOracleFor(dumpV2Path)) { (s, _) =>
      import org.apache.spark.sql.functions.{broadcast, col, min}
      val v1 = WikidataEtl.run(DumpReader.read(s, dumpPath, Surface.Full), cache = true)
      val t = graft.Scratch.fresh("w57_index")
      graft.operators.EditJoin.saveIndex(s, t,
        QueryApi(v1).anyNames, "id", "name", files = 32)
      val changes = IncrementalEtl.readChangeset(s, changesetPath, Surface.Full)
      val next = IncrementalEtl.applyChangeset(v1.byName, changes)
      val touched = IncrementalEtl.winners(changes).select("id")
      val current = QueryApi(next).anyNames
      graft.operators.EditJoin.appendIndexDelta(s, t,
        current.join(broadcast(touched), Seq("id"), "left_semi"), "id", "name")
      val base = current.agg(min(col("name"))).head().getString(0)
      val term = base.substring(0, base.length - 1)
      val maintained = graft.operators.EditJoin
        .fuzzyLookupStored(s, t, current, "id", "name", term)
        .select(col("id"), col("name"), col("dist"))
      val t2 = graft.Scratch.fresh("w57_rebuilt")
      graft.operators.EditJoin.saveIndex(s, t2, current, "id", "name", files = 32)
      val rebuilt = graft.operators.EditJoin
        .fuzzyLookupStored(s, t2, current, "id", "name", term)
        .select(col("id"), col("name"), col("dist"))
      require(maintained.collect().toSet == rebuilt.collect().toSet,
        "append-maintained any-name lookup diverged from fold-and-rebuild")
      v1.unpersist(); next.unpersist()
      maintained.orderBy("id", "name")
    },
    // W58: the schema-discovery rollup — unordered property pairs by the
    // number of entities asserting both, re-derived in DuckDB as a
    // distinct-props self-join over the same claim core.
    Gate("w58_property_cooccurrence",
      // W58: distinct (entity, property) self-joined under p1 < p2 — the
      // blocking-free brute force the Spark set-explode must equal.
      s"""$corePrefix, props AS (
         |  SELECT DISTINCT id, property_id FROM core
         |)
         |SELECT a.property_id AS p1, b.property_id AS p2,
         |  CAST(count(*) AS BIGINT) AS n_entities
         |FROM props a JOIN props b
         |  ON a.id = b.id AND a.property_id < b.property_id
         |GROUP BY 1, 2""".stripMargin) { (s, _) =>
      WikidataEtl.propertyCooccurrence(DumpReader.read(s, dumpPath))
    },
    Gate("w4_etl_meta",
      metaOracleFor(dumpPath))((s, _) => tables(s).meta),
    Gate("w6_etl_string", stringOracle)((s, _) => tables(s).string),
    Gate("w7_etl_entity", entityOracle)((s, _) => tables(s).entity),
    Gate("w8_etl_coordinates",
      s"""$corePrefix
         |SELECT id, property_id,
         |  try_cast(v->>'$$.latitude' AS DOUBLE) AS latitude,
         |  try_cast(v->>'$$.longitude' AS DOUBLE) AS longitude,
         |  coalesce(try_cast(v->>'$$.precision' AS DOUBLE), 0.0) AS precision,
         |  coalesce(CAST(regexp_extract(v->>'$$.globe', '[Qq]([0-9]+)$$', 1) AS BIGINT), 0) AS globe_id
         |FROM core WHERE snaktype = 'value' AND value_type = 'globecoordinate'""".stripMargin)((s, _) => tables(s).coordinates),
    Gate("w9_etl_quantity",
      s"""$corePrefix
         |SELECT id, property_id,
         |  try_cast(regexp_replace(v->>'$$.amount', '^\\+', '') AS DOUBLE) AS amount,
         |  try_cast(regexp_replace(v->>'$$.lowerBound', '^\\+', '') AS DOUBLE) AS lower_bound,
         |  try_cast(regexp_replace(v->>'$$.upperBound', '^\\+', '') AS DOUBLE) AS upper_bound,
         |  CASE WHEN v->>'$$.unit' = '1' THEN NULL
         |       ELSE CAST(regexp_extract(v->>'$$.unit', '[QqPpLl]([0-9]+)$$', 1) AS BIGINT)
         |         + CASE WHEN regexp_matches(v->>'$$.unit', '[Pp][0-9]+$$') THEN 1000000000
         |                WHEN regexp_matches(v->>'$$.unit', '[Ll][0-9]+$$') THEN 2000000000
         |                ELSE 0 END
         |  END AS unit_id
         |FROM core WHERE snaktype = 'value' AND value_type = 'quantity'""".stripMargin)((s, _) => tables(s).quantity),
    Gate("w10_etl_time",
      s"""$corePrefix
         |SELECT id, property_id,
         |  try_strptime(
         |    regexp_replace(regexp_replace(regexp_replace(v->>'$$.time', '^\\+', ''), '-00-', '-01-'), '-00T', '-01T'),
         |    '%Y-%m-%dT%H:%M:%SZ') AS time,
         |  coalesce(try_cast(v->>'$$.precision' AS INTEGER), 0) AS precision
         |FROM core WHERE snaktype = 'value' AND value_type = 'time'""".stripMargin)((s, _) => tables(s).time),
    Gate("w11_etl_none",
      s"""$corePrefix
         |SELECT id, property_id FROM core
         |WHERE CASE WHEN snaktype = 'novalue' THEN true
         |           WHEN snaktype = 'value' AND value_type = 'monolingualtext'
         |             THEN v->>'$$.text' IS NULL
         |           ELSE false END""".stripMargin)((s, _) => tables(s).none),
    Gate("w11_etl_unknown",
      s"""$corePrefix
         |SELECT id, property_id FROM core WHERE snaktype = 'somevalue'""".stripMargin)((s, _) => tables(s).unknown)
  )

  // ---------------------------------------------------------------- oracles

  /** Shared DuckDB preamble: dump framing (skip brackets/blank/junk lines,
    * strip trailing commas — reference src/main.rs:174-215), entity id
    * encoding (src/id.rs:6-24), claim explode and rank filter
    * (src/main.rs:87). Inlined into each oracle because the driver runs each
    * SQL standalone. */
  private def corePrefixFor(path: String): String = {
    val p = path.replace("'", "''")
    s"""WITH lines AS (
       |  SELECT regexp_replace(trim(line), ',$$', '') AS l
       |  FROM read_csv('$p', header=false, delim=chr(1), quote='', escape='',
       |                columns={'line':'VARCHAR'})
       |), valid AS (
       |  SELECT try_cast(l AS JSON) AS e FROM lines
       |  WHERE l NOT IN ('', '[', ']') AND try_cast(l AS JSON) IS NOT NULL
       |), encoded AS (
       |  SELECT e,
       |    CASE WHEN regexp_matches(e->>'$$.id', '^[Qq][0-9]+$$') THEN CAST(substr(e->>'$$.id',2) AS BIGINT)
       |         WHEN regexp_matches(e->>'$$.id', '^[Pp][0-9]+$$') THEN CAST(substr(e->>'$$.id',2) AS BIGINT) + 1000000000
       |         WHEN regexp_matches(e->>'$$.id', '^[Ll][0-9]+$$') THEN CAST(substr(e->>'$$.id',2) AS BIGINT) + 2000000000
       |    END AS id
       |  FROM valid
       |), keyed AS (
       |  SELECT id, e, unnest(json_keys(e, '$$.claims')) AS pid_text
       |  FROM encoded WHERE id IS NOT NULL
       |), claims AS (
       |  SELECT id, CAST(substr(pid_text,2) AS BIGINT) + 1000000000 AS property_id,
       |    unnest(from_json(json_extract(e, '$$.claims."' || pid_text || '"'), '["JSON"]')) AS claim
       |  FROM keyed
       |), core AS (
       |  SELECT id, property_id,
       |    claim->>'$$.mainsnak.snaktype' AS snaktype,
       |    claim->>'$$.mainsnak.datavalue.type' AS value_type,
       |    claim->'$$.mainsnak.datavalue.value' AS v
       |  FROM claims
       |  WHERE coalesce(claim->>'$$.rank','normal') <> 'deprecated'
       |)""".stripMargin
  }

  private def corePrefix: String = corePrefixFor(dumpPath)

  /** w6's derivation, shared verbatim by every sink round-trip gate over the
    * `string` table (w12 parquet, w17 csv) — the sink under test cannot
    * corrupt, drop, or re-route a row without failing the hash. */
  private def stringOracleFor(path: String): String =
    s"""${corePrefixFor(path)}
       |SELECT id, property_id, coalesce(v->>'$$.text', v->>'$$') AS string
       |FROM core
       |WHERE snaktype = 'value'
       |  AND CASE WHEN value_type = 'string' THEN true
       |           WHEN value_type = 'monolingualtext' THEN v->>'$$.text' IS NOT NULL
       |           ELSE false END
       |  AND coalesce(v->>'$$.text', v->>'$$') IS NOT NULL""".stripMargin

  private def stringOracle: String = stringOracleFor(dumpPath)

  /** w7's derivation, shared by the ORC round-trip gate (w18). */
  private def entityOracle: String =
    s"""$corePrefix
       |SELECT id, property_id, entity_id FROM (
       |  SELECT id, property_id,
       |    CASE WHEN regexp_matches(v->>'$$.id', '^[Qq][0-9]+$$') THEN CAST(substr(v->>'$$.id',2) AS BIGINT)
       |         WHEN regexp_matches(v->>'$$.id', '^[Pp][0-9]+$$') THEN CAST(substr(v->>'$$.id',2) AS BIGINT) + 1000000000
       |         WHEN regexp_matches(v->>'$$.id', '^[Ll][0-9]+$$') THEN CAST(substr(v->>'$$.id',2) AS BIGINT) + 2000000000
       |         WHEN regexp_matches(v->>'$$.id', '^[Ll][0-9]+-[Ff][0-9]+$$')
       |           THEN CAST(regexp_extract(v->>'$$.id','^[Ll]([0-9]+)',1) AS BIGINT) + 2000000000
       |              + CAST(regexp_extract(v->>'$$.id','([0-9]+)$$',1) AS BIGINT) * 100000000000
       |         WHEN regexp_matches(v->>'$$.id', '^[Ll][0-9]+-[Ss][0-9]+$$')
       |           THEN CAST(regexp_extract(v->>'$$.id','^[Ll]([0-9]+)',1) AS BIGINT) + 2000000000
       |              + CAST(regexp_extract(v->>'$$.id','([0-9]+)$$',1) AS BIGINT) * 100000000000 + 10000000000
       |    END AS entity_id
       |  FROM core WHERE snaktype = 'value' AND value_type = 'wikibase-entityid'
       |) WHERE entity_id IS NOT NULL""".stripMargin

  /** Entity-id text → encoded id, the id.rs law as a SQL CASE over a JSON
    * string expression (shared with [[entityOracle]]'s inline copy). */
  private def encodeIdSql(x: String): String =
    s"""CASE WHEN regexp_matches($x, '^[Qq][0-9]+$$') THEN CAST(substr($x,2) AS BIGINT)
       |     WHEN regexp_matches($x, '^[Pp][0-9]+$$') THEN CAST(substr($x,2) AS BIGINT) + 1000000000
       |     WHEN regexp_matches($x, '^[Ll][0-9]+$$') THEN CAST(substr($x,2) AS BIGINT) + 2000000000
       |     WHEN regexp_matches($x, '^[Ll][0-9]+-[Ff][0-9]+$$')
       |       THEN CAST(regexp_extract($x,'^[Ll]([0-9]+)',1) AS BIGINT) + 2000000000
       |          + CAST(regexp_extract($x,'([0-9]+)$$',1) AS BIGINT) * 100000000000
       |     WHEN regexp_matches($x, '^[Ll][0-9]+-[Ss][0-9]+$$')
       |       THEN CAST(regexp_extract($x,'^[Ll]([0-9]+)',1) AS BIGINT) + 2000000000
       |          + CAST(regexp_extract($x,'([0-9]+)$$',1) AS BIGINT) * 100000000000 + 10000000000
       |END""".stripMargin

  /** W34 prefix: the core prefix's `claims` CTE extended with the qualifier
    * explode + 7-way routing at qualifier grain. */
  private def qualPrefix: String = qualPrefixFor(dumpPath)

  /** The flattened 7-way kind CASE shared by the qualifier (W34) and
    * reference (W59) derivations — the snak columns must be named
    * (snaktype, value_type, v). */
  private def kindCaseSql: String =
    s"""CASE WHEN snaktype = 'novalue' THEN 'none'
       |         WHEN snaktype = 'somevalue' THEN 'unknown'
       |         WHEN snaktype = 'value' AND value_type = 'string' THEN 'string'
       |         WHEN snaktype = 'value' AND value_type = 'monolingualtext'
       |           THEN CASE WHEN v->>'$$.text' IS NOT NULL THEN 'string' ELSE 'none' END
       |         WHEN snaktype = 'value' AND value_type = 'wikibase-entityid' THEN 'entity'
       |         WHEN snaktype = 'value' AND value_type = 'globecoordinate' THEN 'coordinates'
       |         WHEN snaktype = 'value' AND value_type = 'quantity' THEN 'quantity'
       |         WHEN snaktype = 'value' AND value_type = 'time' THEN 'time'
       |    END""".stripMargin

  private def qualPrefixFor(path: String): String =
    s"""${corePrefixFor(path)}, qstat AS (
       |  SELECT id, property_id, claim->>'$$.id' AS claim_id, claim AS c
       |  FROM claims WHERE coalesce(claim->>'$$.rank','normal') <> 'deprecated'
       |), qkeys AS (
       |  SELECT id, property_id, claim_id, c,
       |    unnest(json_keys(c, '$$.qualifiers')) AS qpid_text
       |  FROM qstat
       |), qsnaks AS (
       |  SELECT id, property_id, claim_id,
       |    CAST(substr(qpid_text,2) AS BIGINT) + 1000000000 AS qual_property_id,
       |    unnest(from_json(json_extract(c, '$$.qualifiers."' || qpid_text || '"'), '["JSON"]')) AS q
       |  FROM qkeys
       |), qcore AS (
       |  SELECT id, property_id, claim_id, qual_property_id,
       |    q->>'$$.snaktype' AS snaktype,
       |    q->>'$$.datavalue.type' AS value_type,
       |    q->'$$.datavalue.value' AS v
       |  FROM qsnaks
       |), qrouted AS (
       |  SELECT *,
       |    $kindCaseSql AS kind
       |  FROM qcore
       |)""".stripMargin

  /** W59 prefix: the same statement base, then the references LIST
    * unnested with a 0-based record index, each record's snak map walked
    * like the qualifiers map, the same kind CASE. */
  private def refPrefixFor(path: String): String =
    s"""${corePrefixFor(path)}, rstat AS (
       |  SELECT id, property_id, claim->>'$$.id' AS claim_id, claim AS c
       |  FROM claims WHERE coalesce(claim->>'$$.rank','normal') <> 'deprecated'
       |), rrefs AS (
       |  SELECT id, property_id, claim_id,
       |    CAST(g.ridx AS INTEGER) AS ref_idx,
       |    json_extract(c, '$$.references[' || g.ridx || '].snaks') AS snaks
       |  FROM rstat
       |  JOIN LATERAL (
       |    SELECT unnest(range(0,
       |      coalesce(len(from_json(json_extract(c, '$$.references'), '["JSON"]')), 0))) AS ridx
       |  ) g ON true
       |), rkeys AS (
       |  SELECT id, property_id, claim_id, ref_idx, snaks,
       |    unnest(json_keys(snaks)) AS rpid_text
       |  FROM rrefs
       |), rsnaks AS (
       |  SELECT id, property_id, claim_id, ref_idx,
       |    CAST(substr(rpid_text,2) AS BIGINT) + 1000000000 AS ref_property_id,
       |    unnest(from_json(json_extract(snaks, '$$."' || rpid_text || '"'), '["JSON"]')) AS q
       |  FROM rkeys
       |), rcore AS (
       |  SELECT id, property_id, claim_id, ref_idx, ref_property_id,
       |    q->>'$$.snaktype' AS snaktype,
       |    q->>'$$.datavalue.type' AS value_type,
       |    q->'$$.datavalue.value' AS v
       |  FROM rsnaks
       |), rrouted AS (
       |  SELECT *,
       |    $kindCaseSql AS kind
       |  FROM rcore
       |)""".stripMargin

  /** The full W34 qualifier-table derivation (also the w35 span source). */
  private def qualifiersOracle: String = qualifiersOracleFor(dumpPath)

  /** The full W34 qualifier-table derivation over any dump file (w40's
    * oracle rebuilds it from the v2 dump). */
  private def qualifiersOracleFor(path: String): String =
    flatKindSelect(qualPrefixFor(path), "qual_property_id", "qrouted")

  /** W59: the full reference-table derivation. */
  private def referencesOracleFor(path: String): String =
    flatKindSelect(refPrefixFor(path), "ref_idx, ref_property_id", "rrouted")

  /** The typed 7-way select shared by the W34/W59 flattened tables. */
  private def flatKindSelect(prefix: String, extraKeys: String, from: String): String =
    s"""$prefix
       |SELECT id, property_id, claim_id, $extraKeys, kind,
       |  CASE WHEN kind = 'string' THEN coalesce(v->>'$$.text', v->>'$$') END AS string,
       |  CASE WHEN kind = 'entity' THEN ${encodeIdSql("v->>'$.id'")} END AS entity_id,
       |  CASE WHEN kind = 'coordinates' THEN try_cast(v->>'$$.latitude' AS DOUBLE) END AS latitude,
       |  CASE WHEN kind = 'coordinates' THEN try_cast(v->>'$$.longitude' AS DOUBLE) END AS longitude,
       |  CASE WHEN kind = 'coordinates' THEN coalesce(try_cast(v->>'$$.precision' AS DOUBLE), 0.0) END AS coord_precision,
       |  CASE WHEN kind = 'coordinates' THEN coalesce(CAST(regexp_extract(v->>'$$.globe', '[Qq]([0-9]+)$$', 1) AS BIGINT), 0) END AS globe_id,
       |  CASE WHEN kind = 'quantity' THEN try_cast(regexp_replace(v->>'$$.amount', '^\\+', '') AS DOUBLE) END AS amount,
       |  CASE WHEN kind = 'quantity' THEN try_cast(regexp_replace(v->>'$$.lowerBound', '^\\+', '') AS DOUBLE) END AS lower_bound,
       |  CASE WHEN kind = 'quantity' THEN try_cast(regexp_replace(v->>'$$.upperBound', '^\\+', '') AS DOUBLE) END AS upper_bound,
       |  CASE WHEN kind = 'quantity' THEN
       |    CASE WHEN v->>'$$.unit' = '1' THEN NULL
       |         ELSE CAST(regexp_extract(v->>'$$.unit', '[QqPpLl]([0-9]+)$$', 1) AS BIGINT)
       |           + CASE WHEN regexp_matches(v->>'$$.unit', '[Pp][0-9]+$$') THEN 1000000000
       |                  WHEN regexp_matches(v->>'$$.unit', '[Ll][0-9]+$$') THEN 2000000000
       |                  ELSE 0 END
       |    END
       |  END AS unit_id,
       |  CASE WHEN kind = 'time' THEN try_strptime(
       |    regexp_replace(regexp_replace(regexp_replace(v->>'$$.time', '^\\+', ''), '-00-', '-01-'), '-00T', '-01T'),
       |    '%Y-%m-%dT%H:%M:%SZ') END AS time,
       |  CASE WHEN kind = 'time' THEN coalesce(try_cast(v->>'$$.precision' AS INTEGER), 0) END AS time_precision
       |FROM $from
       |WHERE kind IS NOT NULL
       |  AND NOT (kind = 'entity' AND ${encodeIdSql("v->>'$.id'")} IS NULL)""".stripMargin

  /** The min(P580)/max(P582) per-claim span aggregation, off the
    * qualifier derivation (`qrouted`) — shared by [[temporalBase]] and
    * the W48 truthy×validAt oracle. */
  private def spansCte: String =
    s"""spans AS (
       |  SELECT claim_id,
       |    min(CASE WHEN qual_property_id = 1000000580 THEN try_strptime(
       |      regexp_replace(regexp_replace(regexp_replace(v->>'$$.time', '^\\+', ''), '-00-', '-01-'), '-00T', '-01T'),
       |      '%Y-%m-%dT%H:%M:%SZ') END) AS valid_from,
       |    max(CASE WHEN qual_property_id = 1000000582 THEN try_strptime(
       |      regexp_replace(regexp_replace(regexp_replace(v->>'$$.time', '^\\+', ''), '-00-', '-01-'), '-00T', '-01T'),
       |      '%Y-%m-%dT%H:%M:%SZ') END) AS valid_until
       |  FROM qrouted
       |  WHERE kind = 'time' AND qual_property_id IN (1000000580, 1000000582)
       |  GROUP BY claim_id
       |)""".stripMargin

  /** The W46/W47 truthy derivation: rank-kept statements at claim grain
    * (projected BEFORE filtering — the DuckDB JSON-optimizer discipline
    * stmts0 documents), the per-(id, property) any-preferred flag over
    * ALL of them — every value family and novalue/somevalue snaks, which
    * carry ranks too — and `tcore`, the surviving truthy claim set the
    * typed-table bodies route from. Appended after any prefix that
    * defines the `claims` CTE. */
  private def truthyCtes: String =
    s""", rstat AS (
       |  SELECT id, property_id, claim->>'$$.id' AS claim_id,
       |    coalesce(claim->>'$$.rank','normal') AS rank,
       |    claim->>'$$.mainsnak.snaktype' AS snaktype,
       |    claim->>'$$.mainsnak.datavalue.type' AS value_type,
       |    claim->'$$.mainsnak.datavalue.value' AS v
       |  FROM claims
       |), rkept AS (
       |  SELECT * FROM rstat WHERE rank <> 'deprecated'
       |), tbest AS (
       |  SELECT id, property_id,
       |    max(CASE WHEN rank = 'preferred' THEN 1 ELSE 0 END) AS hp
       |  FROM rkept GROUP BY id, property_id
       |), tcore AS (
       |  SELECT k.id, k.property_id, k.claim_id, k.snaktype, k.value_type, k.v
       |  FROM rkept k JOIN tbest b USING (id, property_id)
       |  WHERE (CASE WHEN k.rank = 'preferred' THEN 1 ELSE 0 END) = b.hp
       |)""".stripMargin

  /** W35/W37 shared prefix: spans from the qualifier derivation,
    * statements from the claim core (entity-valued, rank-filtered, with
    * their statement ids), and `alive` — the min(P580)/max(P582) validity
    * law applied at 1950-06-01. */
  private def temporalBase: String =
    s"""$qualPrefix, $spansCte, stmts0 AS (
       |  -- project BEFORE filtering: multiple claim->> predicates in one
       |  -- WHERE over the unnested claims trips a DuckDB 1.0 JSON-optimizer
       |  -- conversion bug (it casts the whole claim to numeric); the
       |  -- projected-column filter below is the same rows, bug-free
       |  SELECT id, property_id, claim->>'$$.id' AS claim_id,
       |    coalesce(claim->>'$$.rank','normal') AS rank,
       |    claim->>'$$.mainsnak.snaktype' AS snaktype,
       |    claim->>'$$.mainsnak.datavalue.type' AS value_type,
       |    claim->>'$$.mainsnak.datavalue.value.id' AS eid_text
       |  FROM claims
       |), stmts AS (
       |  SELECT id, property_id, claim_id, ${encodeIdSql("eid_text")} AS entity_id
       |  FROM stmts0
       |  WHERE rank <> 'deprecated' AND snaktype = 'value'
       |    AND value_type = 'wikibase-entityid'
       |)""".stripMargin

  /** [[temporalBase]] + the alive-at-1950 cut used by w35/w37. */
  private def temporalPrefixAlive: String =
    s"""$temporalBase, alive AS (
       |  SELECT s.id, s.property_id, s.claim_id, s.entity_id
       |  FROM stmts s LEFT JOIN spans p ON s.claim_id = p.claim_id
       |  WHERE s.entity_id IS NOT NULL
       |    AND (p.valid_from IS NULL OR p.valid_from <= TIMESTAMP '1950-06-01 00:00:00')
       |    AND (p.valid_until IS NULL OR p.valid_until > TIMESTAMP '1950-06-01 00:00:00')
       |)""".stripMargin


  /** The W52 aliases derivation over any dump file (w54 replays it after
    * the 13-table sink; w55's oracle rebuilds it from the v2 dump). */
  /** W56/W57: brute-force fuzzy any-name lookup — names = labels ∪ aliases,
    * term = the min name with its last character dropped, answer = every
    * (id, name) within levenshtein 1. Data-derived end to end, so the same
    * SQL serves the fresh-build (v1) and maintained (v2) gates. */
  private def anyNameFuzzyOracleFor(path: String): String =
    s"""${corePrefixMetaFor(path)}, ak AS (
       |  SELECT id, e, unnest(json_keys(e, '$$.aliases')) AS language
       |  FROM encoded WHERE id IS NOT NULL
       |), al AS (
       |  SELECT id, language,
       |    unnest(from_json(json_extract(e, '$$.aliases."' || language || '"'), '["JSON"]')) AS a
       |  FROM ak
       |), lbl AS (
       |  -- project BEFORE filtering (DuckDB JSON-optimizer cast bug)
       |  SELECT id, e->>'$$.labels.en.value' AS name
       |  FROM encoded WHERE id IS NOT NULL
       |), names AS (
       |  SELECT DISTINCT id, name FROM (
       |    SELECT id, name FROM lbl WHERE name IS NOT NULL
       |    UNION ALL
       |    SELECT id, a->>'$$.value' AS name FROM al WHERE a->>'$$.value' IS NOT NULL
       |  )
       |), term AS (
       |  SELECT substr(min(name), 1, length(min(name)) - 1) AS t FROM names
       |)
       |SELECT id, name,
       |  CAST(levenshtein(name, (SELECT t FROM term)) AS INTEGER) AS dist
       |FROM names
       |WHERE levenshtein(name, (SELECT t FROM term)) <= 1
       |ORDER BY id, name""".stripMargin

  private def aliasesOracleFor(path: String): String =
    s"""${corePrefixMetaFor(path)}, ak AS (
       |  SELECT id, e, unnest(json_keys(e, '$$.aliases')) AS language
       |  FROM encoded WHERE id IS NOT NULL
       |), al AS (
       |  SELECT id, language,
       |    unnest(from_json(json_extract(e, '$$.aliases."' || language || '"'), '["JSON"]')) AS a
       |  FROM ak
       |)
       |SELECT id, language, a->>'$$.value' AS alias FROM al
       |WHERE a->>'$$.value' IS NOT NULL""".stripMargin

  /** The `meta` table re-derived from the dump at `path` (W4's oracle). */
  private def metaOracleFor(path: String): String =
    s"""${corePrefixMetaFor(path)}
       |SELECT id,
       |  e->>'$$.labels.en.value' AS label,
       |  e->>'$$.descriptions.en.value' AS description
       |FROM encoded WHERE id IS NOT NULL""".stripMargin

  /** Meta needs the entity-level CTEs only (no claim explode). */
  private def corePrefixMetaFor(path: String): String = {
    val cp = corePrefixFor(path)
    cp.substring(0, cp.indexOf("), keyed AS (")) + ")"
  }

  private def corePrefixMeta: String = corePrefixMetaFor(dumpPath)
}
