package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.SnapshotTable
import graft.wikidata.{DumpReader, IncrementalEtl, QueryApi, WikidataEtl, WikidataTables}

/** The workloads. Each: set-up (repeated `SetupRounds` times, the median
  * reported), then a closed loop of one client issuing operations until
  * `seconds` of operation time have been measured. An operation is timed
  * in steps of named kinds (a query of one API call; a commit); the
  * declared `op_ms` is the latency of the workload's unit of work (a block
  * of 20 queries, a refresh cycle) rebuilt from the median of each kind,
  * so it rests on every sample of the run and a single slow step barely
  * moves it. Correctness is checked after each operation, outside its
  * timed window. */
object Workloads {
  import Util._

  val SetupRounds = 3
  /** Untimed refresh cycles before the timed ones: the JIT keeps compiling
    * through the first ops of a fresh JVM (measured: the first cycle cost
    * ~1.5x the CPU of the third). */
  val WarmCycles = 2
  /** query_mix warms up with this many passes of one query per API call
    * (measured: after one pass the per-call medians were ~25% higher and
    * three times as spread across runs of one seed as after three). */
  val WarmPasses = 3
  /** Wall-clock cap on one timed loop, whatever the per-op times. */
  val LoopCapMs = 60000.0

  private val Tables13 = IncrementalEtl.tableNamesFull
  private val Tables8 = IncrementalEtl.tableNames

  def readTables(spark: SparkSession, dir: String, names: Seq[String]): Map[String, DataFrame] =
    names.map(n => n -> spark.read.parquet(s"$dir/$n")).toMap

  def tablesOf(t: Map[String, DataFrame]): WikidataTables = WikidataTables(
    meta = t("meta"), string = t("string"), entity = t("entity"),
    coordinates = t("coordinates"), quantity = t("quantity"), time = t("time"),
    none = t("none"), unknown = t("unknown"),
    qualifiers = t.get("qualifiers"), statements = t.get("statements"),
    sitelinks = t.get("sitelinks"), aliases = t.get("aliases"),
    references = t.get("references"))

  /** Set-up time: session start plus the median of `SetupRounds` rounds. */
  private def setup(c: Ctx)(round: Int => Unit): Double = {
    val ms = (1 to SetupRounds).map(i => timedMs(round(i))._1)
    c.setupRounds = ms.map(_ / 1e3)
    c.sessionS + Stats.median(ms) / 1e3
  }

  /** One timed step of an operation: its kind and milliseconds. */
  type Step = (String, Double)

  /** Run `op` `warm` times untimed (the warm-up: answers checked; the wall
    * time goes to `c.warmS`), then until `seconds` of measured step time
    * (or the cap), and on while a kind of `kinds` has no sample yet (only
    * very short runs need that); returns the timed steps. `op` returns
    * None when it has no more work, no steps when it failed. Also records
    * the JVM's CPU time per successful timed op in `c.opCpuMs`. */
  private def loop(c: Ctx, warm: Int, kinds: Set[String])(op: Int => Option[Seq[Step]]): Seq[Step] = {
    c.warmS = timedMs((0 until warm).foreach(op))._1 / 1e3
    val steps = mutable.ArrayBuffer.empty[Step]
    var measured = 0.0
    val t0 = Clock.nowMs
    var i = warm
    var more = true
    def missing = kinds.exists(k => !steps.exists(_._1 == k))
    c.rec.resetPeak()
    c.tracer.active = true
    while (more && (measured < c.seconds * 1000 || missing) && Clock.nowMs - t0 < LoopCapMs) {
      val cpu0 = processCpuMs()
      op(i) match {
        case Some(s) if s.nonEmpty =>
          steps ++= s; measured += s.map(_._2).sum; c.opCpuMs += processCpuMs() - cpu0
        case Some(_) =>
        case None => more = false
      }
      i += 1
    }
    c.tracer.active = false
    c.loopWallS = (Clock.nowMs - t0) / 1e3
    c.measuredS = measured / 1e3
    c.steps = steps.toSeq
    steps.toSeq
  }

  /** The unit of work rebuilt from per-kind medians: the sum over kinds of
    * (times the kind occurs in one unit) x (median of its samples); NaN
    * when a kind has no sample. */
  def unitMs(steps: Seq[Step], perUnit: Map[String, Int]): Double = {
    val byKind = steps.groupBy(_._1)
    perUnit.map { case (k, n) => n * Stats.median(byKind.getOrElse(k, Nil).map(_._2)) }.sum
  }

  /** `setupS` plus the warm-up ops: process start to the first timed op. */
  private def e2e(c: Ctx, setupS: Double, opMs: Double): Map[String, Double] =
    Map("setup_s" -> (setupS + c.warmS), "op_ms" -> opMs)

  private def failedFrac(log: RunLog): Double = log.failed.toDouble / log.attempted.max(1)

  // ----------------------------------------------------------------- ETL

  /** The reference's own job: dump -> readFull -> runFull -> 13 parquet
    * tables, the parse cache released after the sinks. */
  def etlPass(c: Ctx, dump: String, out: String): Unit = {
    val ents = c.tracer.span("reader.readFull", "reader")(DumpReader.readFull(c.spark, dump))
    val t = c.tracer.span("etl.runFull", "etl")(WikidataEtl.runFull(ents, cache = true))
    c.tracer.span("etl.writeParquet", "etl")(t.writeParquet(out))
    c.tracer.span("caches.unpersist", "caches")(t.unpersist())
  }

  /** Reader, ETL and cache counts per ETL pass (`passes`: their op spans). */
  def etlLayers(c: Ctx, L: Layers, passes: Seq[Span], dumpBytes: Long,
      cacheBytes: Seq[Long], outBytes: Seq[Long]): Map[String, Double] = {
    def perOp(f: Span => Double): Double = Layers.mean(passes.map(f))
    def countQes(s: Span) = L.qesIn(s).filter(_.funcName == "count")
    def writeQes(s: Span) = L.qesIn(s).filter(_.outPath.isDefined)
    def etlSpans(s: Span) = L.subtree(s).filter(_.layer == "etl")
    // the parse+cache count inside writeParquet belongs to the reader
    def etlJobs(s: Span) = L.jobsOf(etlSpans(s)).filterNot(j => c.rec.countExecs.contains(j.execId))
    def parseMs(s: Span) = countQes(s).map(_.durMs).sum
    def sinkMs(s: Span) =
      L.subtree(s).filter(_.name == "etl.writeParquet").map(_.wallMs).sum - parseMs(s)
    val linesIn = perOp(s => countQes(s).map(_.cacheFillRows).sum.toDouble)
    val entitiesOut = perOp(s => writeQes(s).filter(_.outPath.get.endsWith("/meta"))
      .map(_.rowsOut).sum.toDouble)
    val cnt = passes.map(s => L.counts(etlJobs(s)))
    Map(
      "reader.parse_cache_s" -> perOp(parseMs) / 1e3,
      "reader.lines_in" -> linesIn,
      "reader.entities_out" -> entitiesOut,
      "reader.drop_frac" -> (if (linesIn > 0) (linesIn - entitiesOut) / linesIn else 0.0),
      "caches.parse_cache_mb" -> Layers.mean(cacheBytes.map(_ / Layers.MB)),
      "etl.sink_s" -> perOp(sinkMs) / 1e3,
      "etl.sink_table_max_s" -> perOp(s => (0.0 +: writeQes(s).map(_.durMs)).max) / 1e3,
      "etl.jobs" -> Layers.mean(cnt.map(_.jobs.toDouble)),
      "etl.tasks" -> Layers.mean(cnt.map(_.tasks.toDouble)),
      "etl.task_cpu_s" -> Layers.mean(cnt.map(_.cpuMs)) / 1e3,
      "etl.cpu_util" -> perOp(s => L.cpuUtil(L.counts(etlJobs(s)).cpuMs, sinkMs(s))),
      "etl.driver_gap_s" -> perOp(s => etlSpans(s).map(e =>
        L.driverGapMs(e, L.jobsOf(Seq(e)))).sum) / 1e3,
      "etl.shuffle_write_mb" -> Layers.mean(cnt.map(_.shuffleWrite / Layers.MB)),
      "etl.spill_mb" -> Layers.mean(cnt.map(_.spill / Layers.MB)),
      "etl.out_bytes_per_in_byte" -> Layers.mean(outBytes.map(_.toDouble)) / dumpBytes)
  }

  // ------------------------------------------------------------- queries

  final case class Query(cls: String, op: String, args: JsonNode, want: Option[Digest])

  def queriesOf(node: JsonNode): Seq[Query] = node.elements().asScala.toSeq.map(q =>
    Query(text(q, "cls"), text(q, "op"), q.get("args"),
      Option(q.get("n")).map(_ => Check.expected(q))))

  private def layerOf(cls: String): String = cls match {
    case "path" => "paths"
    case "fuzzy" => "fuzzy"
    case _ => "query"
  }

  /** The query as a plan, and whether its digest is over distinct rows. */
  def plan(api: QueryApi, q: Query): (DataFrame, Boolean) = {
    val a = q.args
    def s(i: Int) = a.get(i).asText()
    def l(i: Int) = a.get(i).asLong()
    def pairs = a.get(0).elements().asScala.toSeq.map(p => (p.get(0).asLong(), p.get(1).asLong()))
    q.op match {
      case "byLabel" => (api.byLabel(s(0)).select("id"), true)
      case "byId" => (api.byId(s(0)).select("id"), true)
      case "claimsOf" => (api.claimsOf(l(0)).select("id", "property_id", "value_kind"), false)
      case "withEntityClaim" => (api.withEntityClaim(l(0), l(1)).select("id"), true)
      case "conjunctiveEntitySearch" => (api.conjunctiveEntitySearch(pairs).select("id"), true)
      case "conjunctiveSourcedSearch" => (api.conjunctiveSourcedSearch(pairs).select("id"), true)
      case "path" => (api.path(s(0)).filter(col("dst") === l(1)).select("src"), true)
      case "pathClosure" => (api.pathClosure(l(0)).filter(col("dst") === l(1)).select("src"), true)
      case "byLabelFuzzy" => (api.byLabelFuzzy(s(0)).select("id"), true)
      case "byAnyNameFuzzy" => (api.byAnyNameFuzzy(s(0)).select("id"), true)
      case other => throw new IllegalArgumentException(s"unknown query op $other")
    }
  }

  final case class Answer(q: Query, ms: Double, got: Digest, span: Option[Span])

  /** Issue one query inside its spans: `<prefix>.<class>` around the call
    * into its layer and the collect. Only the call and the collect are
    * timed; the result digest is taken after. */
  def issue(c: Ctx, api: QueryApi, q: Query, prefix: String): Answer = {
    var distinct = true
    val ((ms, rows), span) = c.tracer.spanned(s"$prefix.${q.cls}", layerOf(q.cls)) {
      timedMs {
        val df = c.tracer.span(s"$prefix.${q.op}", layerOf(q.cls)) {
          val (d, dis) = plan(api, q); distinct = dis; d }
        c.tracer.span(s"$prefix.collect", "query")(df.collect())
      }
    }
    Answer(q, ms, Check.rowsDigest(rows, distinct), span)
  }

  def verdict(q: Query, got: Digest, want: Digest): Seq[String] =
    if (got == want) Nil else Seq(s"${q.op}(${q.args}): got $got, want $want")

  /** Per-query counts over the spans of one class of queries, each with
    * its result row count. */
  def queryLayers(L: Layers, spans: Seq[(Span, Long)], prefix: String): Map[String, Double] = {
    def perOp(f: ((Span, Long)) => Double): Double = Layers.mean(spans.map(f))
    def jobs(s: Span) = L.jobsOf(L.subtree(s))
    Map(
      s"$prefix.plan_ms" -> perOp(x => L.qesIn(x._1).map(_.planMs).sum),
      s"$prefix.jobs" -> perOp(x => jobs(x._1).size.toDouble),
      s"$prefix.tasks" -> perOp(x => L.counts(jobs(x._1)).tasks.toDouble),
      s"$prefix.task_cpu_ms" -> perOp(x => L.counts(jobs(x._1)).cpuMs),
      s"$prefix.driver_gap_ms" -> perOp(x => L.driverGapMs(x._1, jobs(x._1))),
      s"$prefix.files_scanned" -> perOp(x => L.qesIn(x._1).map(_.files).sum.toDouble),
      s"$prefix.rows_examined_per_row" -> perOp(x =>
        L.qesIn(x._1).map(_.rowsScanned).sum.toDouble / x._2.max(1L)))
  }

  private def byClass(answers: Seq[Answer]): Map[String, Seq[Answer]] = answers.groupBy(_.q.cls)

  // ------------------------------------------------------------ query_mix

  /** Set-up: the bulk ETL of a full-surface dump into 13 parquet tables,
    * `SetupRounds` times (traced after the first, cold, round). Timed
    * loop: one query per op, in blocks of twenty with a fixed class mix
    * (10 lookup, 6 search, 2 path, 2 fuzzy), after a warm-up of
    * `WarmPasses` passes of one query per API call (from the last blocks).
    * `op_ms` is one block at the per-API-call medians. */
  def queryMix(c: Ctx, truth: JsonNode): Result = {
    val log = new RunLog
    val dump = truth.get("dump")
    val dumpPath = s"${c.data}/${text(dump, "path")}"
    val dumpBytes = dump.get("bytes").asLong()
    val blocks = truth.get("blocks").elements().asScala.toSeq.map(queriesOf)
    val queries = blocks.flatten
    val warmQs = blocks.takeRight(WarmPasses).flatMap(_.groupBy(_.op).values.map(_.head).toSeq.sortBy(_.op))
    val perBlock = blocks.head.groupBy(_.op).map { case (k, qs) => k -> qs.size }
    val perBlockSize = blocks.head.size

    val cacheBytes = mutable.ArrayBuffer.empty[Long]
    val outBytes = mutable.ArrayBuffer.empty[Long]
    val setupS = setup(c) { i =>
      val out = s"${c.work}/tables-$i"
      c.tracer.active = i > 1
      c.rec.resetPeak()
      c.tracer.op("setup.etl")(etlPass(c, dumpPath, out))
      c.tracer.active = false
      if (i > 1) { cacheBytes += c.rec.peakBytes; outBytes += bytesUnder(out) }
      settleStorage(c.rec, 0L)
    }
    val etlRounds = c.setupRounds.drop(1)
    val tables = readTables(c.spark, s"${c.work}/tables-$SetupRounds", Tables13)
    log.record("set-up tables", Check.compareTables(Check.tableDigests(tables.toSeq),
      Check.tablesOf(dump.get("tables"))))
    val api = QueryApi(tablesOf(tables))

    val answers = mutable.ArrayBuffer.empty[Answer]
    val steps = loop(c, warm = warmQs.size, kinds = perBlock.keySet) { i =>
      val j = i - warmQs.size
      val q = if (j < 0) warmQs(i) else queries(j % queries.size)
      val what = if (j < 0) s"warm-up ${q.op}" else s"block ${j / perBlockSize} query ${j % perBlockSize}"
      Some(guard(what, log)(c.tracer.op("query")(issue(c, api, q, "query"))) match {
        case Some(a) =>
          log.record(what, verdict(q, a.got, q.want.get))
          if (j >= 0) answers += a
          Seq(q.op -> a.ms)
        case None => Nil
      })
    }
    val classes = Seq("lookup", "search", "path", "fuzzy")
    val detail = mutable.Map[String, Any](
      "query_qps" -> answers.size / (answers.map(_.ms).sum / 1e3), "queries" -> answers.size,
      "dump_mb" -> dumpBytes / Layers.MB,
      "etl_mb_s" -> dumpBytes / Layers.MB / Stats.median(etlRounds),
      "etl_rounds_s" -> etlRounds,
      "cache_peak_mb" -> c.rec.peakBytes / Layers.MB, "failed_frac" -> failedFrac(log),
      "per_call_p50_ms" -> steps.groupBy(_._1).map { case (k, xs) =>
        k -> Stats.median(xs.map(_._2)) },
      "per_block" -> perBlock)
    val byCls = byClass(answers.toSeq)
    classes.foreach(k => detail ++= Stats.summary(k, byCls.getOrElse(k, Nil).map(_.ms)))

    Result(log, e2e(c, setupS, unitMs(steps, perBlock)), detail.toMap, dumpBytes,
      layers = L => {
        val setupOps = L.opSpans.filter(_.name == "setup.etl")
        etlLayers(c, L, setupOps, dumpBytes, cacheBytes.toSeq, outBytes.toSeq) ++
          classes.flatMap(k => queryLayers(L, byCls.getOrElse(k, Nil).flatMap(a =>
            a.span.map(_ -> a.got.n)), s"query.$k")).toMap ++
          refreshLayers(L, Nil, Nil, 0L, Nil) // not exercised: zeros
      })
  }

  // ---------------------------------------------------------- refresh_mix

  /** Set-up: the base dump through `WikidataEtl.run` and `writeParquet`,
    * committed as snapshot-table version 1, `SetupRounds` times, and the
    * read set checked against it. Timed loop: one op is one changeset
    * through `IncrementalEtl.applyCommit` (step `commit`), then opening
    * the version it published (`open`) and the fixed read set against it
    * (one step per API call); the first `WarmCycles` are the warm-up.
    * `op_ms` is one cycle at the per-step medians. */
  def refreshMix(c: Ctx, truth: JsonNode): Result = {
    val log = new RunLog
    val base = truth.get("base")
    val reads = queriesOf(truth.get("reads"))
    val batches = truth.get("batches").elements().asScala.toSeq
    val perCycle = Map("commit" -> 1, "open" -> 1) ++
      reads.groupBy(_.op).map { case (k, qs) => k -> qs.size }
    def snapshots(root: String) = Tables8.map(n => n -> SnapshotTable.read(c.spark, s"$root/$n")).toMap

    val setupS = setup(c) { i =>
      val parquet = s"${c.work}/base-$i"
      val t = WikidataEtl.run(DumpReader.read(c.spark, s"${c.data}/${text(base, "path")}"))
      t.writeParquet(parquet)
      t.unpersist()
      readTables(c.spark, parquet, Tables8).foreach { case (n, df) =>
        SnapshotTable.commit(c.spark, s"${c.work}/snap-$i/$n", df) }
      settleStorage(c.rec, 0L)
    }
    val root = s"${c.work}/snap-$SetupRounds"
    log.record("set-up tables", Check.compareTables(
      Check.tableDigests(snapshots(root).toSeq), Check.tablesOf(base.get("tables"))))
    val baseApi = QueryApi(tablesOf(snapshots(root)))
    reads.zipWithIndex.foreach { case (q, k) =>
      val a = issue(c, baseApi, q, "fresh")
      log.record(s"base read ${q.op}", verdict(q, a.got, Check.expected(truth.get("base_answers").get(k))))
    }

    val answers = mutable.ArrayBuffer.empty[Answer]
    val commitFiles = mutable.ArrayBuffer.empty[Double]
    val writeAmp = mutable.ArrayBuffer.empty[Double]
    var committed = -1
    val steps = loop(c, warm = WarmCycles, kinds = perCycle.keySet) { b =>
      if (b >= batches.size) None
      else {
        val batch = batches(b)
        val path = s"${c.data}/${text(batch, "path")}"
        val out = guard(s"refresh $b", log)(c.tracer.op("refresh") {
          val (commitMs, _) = timedMs {
            val baseT = c.tracer.span("snapshot.read", "snapshot")(snapshots(root))
            val changes = c.tracer.span("incremental.readChangeset", "incremental")(
              IncrementalEtl.readChangeset(c.spark, path))
            c.tracer.span("incremental.applyCommit", "incremental")(
              IncrementalEtl.applyCommit(c.spark, baseT, changes, root))
          }
          val (openMs, api) = timedMs(
            QueryApi(tablesOf(c.tracer.span("snapshot.read", "snapshot")(snapshots(root)))))
          (commitMs, openMs, reads.map(q => issue(c, api, q, "fresh")))
        })
        // manifest resolution at the new version, probed apart from the op
        if (c.tracer.on) c.tracer.op("resolve")(c.tracer.span("snapshot.resolve", "snapshot")(
          Tables8.foreach(n =>
            SnapshotTable.filesOf(s"$root/$n", SnapshotTable.latestVersion(s"$root/$n").get))))
        val timed = out.toSeq.flatMap { case (commitMs, openMs, got) =>
          committed = b
          val want = batch.get("answers")
          got.zipWithIndex.foreach { case (a, k) =>
            log.record(s"batch $b read ${a.q.op}", verdict(a.q, a.got, Check.expected(want.get(k))))
          }
          val files = Tables8.flatMap(n => SnapshotTable.filesOf(s"$root/$n"))
          if (b >= WarmCycles) {
            answers ++= got
            commitFiles += files.size
            writeAmp += files.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum.toDouble /
            batch.get("bytes").asLong()
          }
          Seq("commit" -> commitMs, "open" -> openMs) ++ got.map(a => a.q.op -> a.ms)
        }
        settleStorage(c.rec, 0L)
        Some(timed)
      }
    }
    // the committed tables after the last cycle, against their ground truth
    if (committed >= 0) guard("final tables", log)(log.record(s"batch $committed tables",
      Check.compareTables(Check.tableDigests(snapshots(root).toSeq),
        Check.tablesOf(batches(committed).get("tables")))))
    val versions = SnapshotTable.latestVersion(s"$root/meta").getOrElse(0L)
    val detail = mutable.Map[String, Any](
      "refresh_p50_s" -> Stats.median(steps.filter(_._1 == "commit").map(_._2)) / 1e3,
      "fresh_read_p50_ms" -> Stats.median(answers.map(_.ms).toSeq),
      "cycles" -> steps.count(_._1 == "commit"), "reads" -> answers.size, "versions" -> versions,
      "cache_peak_mb" -> c.rec.peakBytes / Layers.MB, "failed_frac" -> failedFrac(log),
      "per_step_p50_ms" -> steps.groupBy(_._1).map { case (k, xs) =>
        k -> Stats.median(xs.map(_._2)) })
    val byCls = byClass(answers.toSeq)
    Seq("lookup", "search").foreach(k =>
      detail ++= Stats.summary(k, byCls.getOrElse(k, Nil).map(_.ms)))

    Result(log, e2e(c, setupS, unitMs(steps, perCycle)), detail.toMap,
      base.get("bytes").asLong() + batches.map(_.get("bytes").asLong()).sum,
      layers = L =>
        // not exercised: the ETL and query_mix layers (zeros)
        etlLayers(c, L, Nil, 1L, Nil, Nil) ++
          Seq("lookup", "search", "path", "fuzzy").flatMap(k =>
            queryLayers(L, Nil, s"query.$k")).toMap ++
          refreshLayers(L, commitFiles.toSeq, writeAmp.toSeq, versions,
            answers.toSeq.flatMap(_.span.map(_ -> 1L))))
  }

  /** Incremental, snapshot and fresh-read counts per refresh cycle. */
  def refreshLayers(L: Layers, commitFiles: Seq[Double], writeAmp: Seq[Double],
      versions: Long, fresh: Seq[(Span, Long)]): Map[String, Double] = {
    def named(n: String) = L.opSpans.flatMap(s => L.subtree(s).filter(_.name == n))
    val applies = named("incremental.applyCommit")
    val applyJobs = applies.map(s => L.jobsOf(L.subtree(s)))
    val cnt = applyJobs.map(L.counts)
    val fr = queryLayers(L, fresh, "fresh")
    Map(
      "incremental.apply_s" -> Layers.mean(applies.map(_.wallMs)) / 1e3,
      "incremental.jobs" -> Layers.mean(cnt.map(_.jobs.toDouble)),
      "incremental.tasks" -> Layers.mean(cnt.map(_.tasks.toDouble)),
      "incremental.driver_gap_s" -> Layers.mean(applies.zip(applyJobs).map {
        case (s, js) => L.driverGapMs(s, js) }) / 1e3,
      "incremental.shuffle_mb" -> Layers.mean(cnt.map(_.shuffleWrite / Layers.MB)),
      "snapshot.commit_files" -> Layers.mean(commitFiles),
      "snapshot.write_amp" -> Layers.mean(writeAmp),
      "snapshot.versions" -> versions.toDouble,
      "snapshot.resolve_ms" -> Layers.mean(named("snapshot.resolve").map(_.wallMs)),
      "fresh.plan_ms" -> fr("fresh.plan_ms"),
      "fresh.jobs" -> fr("fresh.jobs"),
      "fresh.driver_gap_ms" -> fr("fresh.driver_gap_ms"),
      "fresh.files_scanned" -> fr("fresh.files_scanned"))
  }
}
