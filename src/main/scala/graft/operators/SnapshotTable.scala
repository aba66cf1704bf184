package graft.operators

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** R40: atomic multi-file commits with snapshot isolation and time travel —
  * a minimal manifest-log table format over parquet (the Delta/Iceberg
  * core idea, reduced to its commit protocol).
  *
  * R25 upsert, R26 compaction, R28 partitioned writes and R29 schema
  * evolution all rewrite directories non-atomically: a reader racing the
  * rewrite lists a directory that is half old files, half new. The fix is
  * indirection — readers never list the data directory; they read a
  * VERSIONED MANIFEST naming the exact file set of one table version:
  *
  *   table/data/c<version>-<uuid>/part-*.parquet   immutable data files
  *   table/_log/v<%016d>.json                      manifest: files of that version
  *
  * Commit protocol (the X8 version-dir discipline generalized):
  *   1. write the new data files under `data/` — INVISIBLE until published
  *      (no manifest references them);
  *   2. compose the manifest (append: parent's files + new; overwrite: new);
  *   3. publish by HARD-LINKING the temp file to `_log/v<next>.json` —
  *      link(2) is atomic AND fails if the target exists (POSIX rename
  *      would silently replace it), so one syscall is both the all-or-
  *      nothing publish and the put-if-absent that makes concurrent
  *      committers safe: exactly one link wins a version; the loser gets
  *      [[ConcurrentCommitException]] and retries against the new parent.
  *
  * A crash at ANY point leaves either no new manifest (the commit never
  * happened — orphan data files await [[vacuum]]) or the complete manifest
  * (the commit happened). Readers pin a manifest, and since published data
  * files are immutable, a pinned snapshot stays consistent under any
  * concurrent commit — snapshot isolation without locks. Old versions stay
  * readable ([[read]] with `version`) until [[vacuum]] drops them.
  *
  * Scale shape: the manifest holds file PATHS, not rows — commit cost is
  * O(files touched), a metadata rename, never proportional to table size;
  * readers plan a file-list scan (partition pruning and pushdown intact).
  * At 100 TB the log is megabytes. On object stores without atomic rename
  * the publish step maps to the store's put-if-absent / conditional-put —
  * the protocol is unchanged (this implementation targets POSIX/HDFS
  * semantics, which the test and local[*] environments provide).
  */
object SnapshotTable {

  final class ConcurrentCommitException(version: Long)
    extends RuntimeException(
      s"version $version was committed concurrently; re-read and retry")

  sealed trait Mode { private[operators] def label: String = toString }
  case object Overwrite extends Mode
  case object Append extends Mode
  /** Copy-on-write: the next manifest keeps exactly `keep` (paths from the
    * parent version) plus the newly-written files — [[merge]]'s mode. */
  final case class Replace(keep: Seq[String]) extends Mode {
    override private[operators] def label: String = "Replace"
  }

  private def logDir(table: String): Path = Paths.get(table, "_log")
  private def manifestPath(table: String, v: Long): Path =
    logDir(table).resolve(f"v$v%016d.json")

  /** Committed versions, ascending (empty for a nonexistent table). */
  def versions(table: String): Seq[Long] = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toLong
        }.toSeq.sorted
    } finally s.close()
  }

  /** Latest committed version, if any. */
  def latestVersion(table: String): Option[Long] = versions(table).lastOption

  /** Parsed, immutable view of one manifest — every metadata field a
    * planner asks for, from ONE read. */
  private[operators] final case class ManifestInfo(
      files: Seq[String], parent: Option[Long], mode: Option[String],
      tag: Option[String], ts: Option[Long])

  /** Bounded LRU memo of parses of immutable files (published manifests,
    * txn manifests, data-file footers), keyed by path. Each entry is
    * validated against the file's (size, mtime), so a table directory
    * recreated at the same path never serves a stale parse. */
  private[operators] final class FileMemo[V](max: Int) {
    // key → (size, mtime, parse)
    private val entries = new java.util.LinkedHashMap[String, (Long, Long, V)](256, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, (Long, Long, V)]): Boolean =
        size() > max
    }
    // parses actually performed (cache misses), per group — the spec hook
    // for the bounded-reads contracts (per group, so concurrently-running
    // suites don't race the assertion)
    private val parses =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
    def parsesOf(group: String): Long =
      Option(parses.get(group)).map(_.get()).getOrElse(0L)
    def apply(key: String, size: Long, mtime: Long, group: String = "")(parse: => V): V =
      entries.synchronized(Option(entries.get(key))) match {
        case Some((`size`, `mtime`, value)) => value
        case _ =>
          val value = parse
          parses.computeIfAbsent(group, _ => new java.util.concurrent.atomic.AtomicLong)
            .incrementAndGet()
          entries.synchronized(entries.put(key, (size, mtime, value)))
          value
      }
    /** `parse` of the local file `p`, at the cost of one stat on a hit.
      * Throws (like a raw read) if the file does not exist. */
    def ofFile(p: Path, group: String)(parse: => V): V = {
      val attrs = Files.readAttributes(
        p, classOf[java.nio.file.attribute.BasicFileAttributes])
      apply(p.toAbsolutePath.normalize().toString, attrs.size(),
        attrs.lastModifiedTime().toMillis, group)(parse)
    }
  }

  // Without this memo, snapshot RESOLUTION is O(retained versions) JSON
  // reads PER CALL (versionAsOf/hasTag/history scan every manifest) — at
  // 10⁴ commits that serializes planning on driver I/O; with it, each
  // manifest is read once per process, a stat() per subsequent hit.
  private val manifestMemo = new FileMemo[ManifestInfo](4096)

  private[operators] def dirKey(dir: String): String =
    Paths.get(dir).toAbsolutePath.normalize().toString

  /** Manifest JSON parses actually performed (cache misses) of `table`. */
  private[operators] def manifestParsesOf(table: String): Long =
    manifestMemo.parsesOf(dirKey(table))

  /** Read-through-cache manifest parse. Throws (like a raw read) if the
    * manifest does not exist — callers that tolerate absence check first. */
  private[operators] def manifestInfo(table: String, v: Long): ManifestInfo =
    manifestMemo.ofFile(manifestPath(table, v), dirKey(table)) {
      val json = new String(Files.readAllBytes(manifestPath(table, v)), "UTF-8")
      def longField(name: String): Option[Long] =
        ("\"" + name + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(json)
          .map(_.group(1).toLong)
      // manifest JSON is written by this object — a flat, known shape; the
      // files array holds relative paths that never contain quotes
      val filesStr = "\"files\"\\s*:\\s*\\[([^\\]]*)\\]".r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
      ManifestInfo(
        "\"([^\"]*)\"".r.findAllMatchIn(filesStr).map(_.group(1)).toSeq,
        longField("parent"),
        "\"mode\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1)),
        "\"tag\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1)),
        longField("ts"))
    }

  /** The idempotency tag of `version` (default: latest), if that commit
    * recorded one. */
  def tagOf(table: String, version: Long = -1L): Option[String] =
    (if (version >= 0) Some(version) else latestVersion(table)).flatMap { v =>
      if (!Files.isRegularFile(manifestPath(table, v))) None
      else manifestInfo(table, v).tag
    }

  /** The data-file paths (table-root-qualified) of `version` — default
    * latest. The list a versioned MV registration pins
    * ([[graft.plans.MvRegistry.register]]'s `exactFiles`). */
  def filesOf(table: String, version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version
      else latestVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no committed version in $table"))
    manifestFiles(table, v).map(f => s"$table/$f")
  }

  /** R55: the wall-clock commit time recorded in `version`'s manifest
    * (milliseconds; None for manifests predating the field). */
  def commitTime(table: String, version: Long): Option[Long] =
    if (!Files.isRegularFile(manifestPath(table, version))) None
    else manifestInfo(table, version).ts

  /** R55: the version current AS OF `tsMillis` — the LATEST version whose
    * recorded commit time is at or before the cutoff (versions without a
    * recorded time count as always-qualifying: they predate the field).
    * Clock skew between writers is tolerated by scanning every retained
    * manifest rather than assuming time is monotone in version. Throws if
    * the cutoff precedes the table's first commit. */
  def versionAsOf(table: String, tsMillis: Long): Long =
    versions(table).filter(v => commitTime(table, v).forall(_ <= tsMillis))
      .maxOption.getOrElse(throw new IllegalArgumentException(
        s"no version of $table committed at or before $tsMillis"))

  /** R55: read the table AS OF a wall-clock instant — the Delta
    * `TIMESTAMP AS OF` shape ("what did the dashboard show at 9am",
    * incident forensics, reproducing a training run against the corpus a
    * job actually read). Resolution is a driver-side manifest scan
    * (O(retained versions) small reads, no data I/O); the read itself is
    * the ordinary pinned-version scan with full snapshot isolation, and
    * vacuum bounds how far back an AS OF can reach exactly as it bounds
    * numbered time travel. */
  def readAsOf(spark: SparkSession, table: String, tsMillis: Long,
      mergeSchema: Boolean = false): DataFrame =
    read(spark, table, versionAsOf(table, tsMillis), mergeSchema)

  /** R56: DESCRIBE HISTORY — one row per retained version, newest last:
    * (version, parent, mode, tag, ts_millis, n_files), straight from the
    * manifests (driver-side metadata reads, O(retained versions), no data
    * I/O). The audit surface every table format ships: what landed, when,
    * how (Overwrite/Append/Replace/Restore/Clone), and under which
    * idempotency tag — the first thing an incident review reads, and the
    * programmatic source for retention policy (pair with [[vacuum]]) and
    * replay forensics (which batch tags are in-tree). Missing fields
    * (legacy manifests) surface as nulls, never errors. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    versions(table).map { v =>
      val m = manifestInfo(table, v)
      (v, m.parent, m.mode, m.tag, m.ts, m.files.size.toLong)
    }.toDF("version", "parent", "mode", "tag", "ts_millis", "n_files")
  }

  /** Whether ANY retained manifest of `table` records `tag` — the replay
    * check that stays correct when foreign commits (an OPTIMIZE job, a
    * vacuum-then-commit) land between a tagged commit and its replay:
    * checking only the LATEST tag would miss the published batch and
    * double-apply it. Cost: one small manifest read per retained version,
    * newest first (the common replay hit is the head). */
  def hasTag(table: String, tag: String): Boolean =
    versions(table).reverseIterator.exists(v => tagOf(table, v).contains(tag))

  /** The data files of one version (relative to the table root). */
  private[operators] def manifestFiles(table: String, v: Long): Seq[String] =
    manifestInfo(table, v).files

  /** Commit `df` as the next version. `expectedVersion` (CAS): fail with
    * [[ConcurrentCommitException]] unless the parent is exactly that
    * version (-1 = require a fresh table). `beforePublish` runs after the
    * data files are durable but before the manifest rename — the crash
    * window the CrashRecoverySpec-style test injects into. `tag` is an
    * opaque idempotency marker recorded in the manifest (readable via
    * [[tagOf]]; must not contain `"` or `\` — the manifest is flat JSON) —
    * streaming sinks stamp the micro-batch id so a replayed batch can
    * recognize an already-published commit (X13). Returns the committed
    * version. */
  /** Resolve (parent, next version) under the CAS contract — shared by
    * [[commit]] and the partition-aware writer ([[SnapshotPartitions]]),
    * which stages its own directory layout before publishing. */
  private[operators] def nextVersion(table: String,
      expectedVersion: Long): (Option[Long], Long) = {
    val parent = latestVersion(table)
    if (expectedVersion != Long.MinValue &&
        parent.getOrElse(-1L) != expectedVersion)
      throw new ConcurrentCommitException(parent.getOrElse(-1L))
    (parent, parent.getOrElse(0L) + 1)
  }

  /** Resolve `mode` against the parent's file list and publish `written`
    * (commit-dir-relative paths already staged on disk) as `version` —
    * the manifest tail shared by [[commit]] and [[SnapshotPartitions]]. */
  private[operators] def publishFiles(table: String, version: Long,
      parent: Option[Long], mode: Mode, written: Seq[String],
      beforePublish: () => Unit = () => (), tag: Option[String] = None): Long = {
    val files = mode match {
      case Overwrite => written
      case Append => parent.map(manifestFiles(table, _)).getOrElse(Seq.empty) ++ written
      case Replace(keep) => keep ++ written
    }
    publishManifest(table, version, parent, mode.label, tag, files, beforePublish)
  }

  /** Output-file sizing for commits (guide §6: files in the 100 MB–1 GB
    * band, never one near-empty file per upstream partition): coalesce the
    * to-be-committed frame down to ⌈estimated bytes / targetBytes⌉
    * partitions when the OPTIMIZER'S OWN size estimate says the current
    * partitioning would emit smaller files. Scale-adaptive by construction:
    * a changeset/delta/codebook-sized frame (the common commit in the
    * streaming and ANN-store paths — measured at 32–64 near-empty files
    * and ~1.8 s per commit against ~0.2 s for the same rows in one file)
    * collapses to one file, while a corpus-sized frame keeps its
    * partitioning untouched because the estimate exceeds partitions ×
    * target. Frames without a usable estimate are left alone
    * (conservative). NOT applied inside [[commit]] itself: writers that
    * lay files out deliberately (range-clustered indexes, partitioned
    * sinks) must keep their file structure — callers opt in per site. */
  def rightSized(df: DataFrame, targetBytes: Long = 64L << 20): DataFrame = {
    // planning-only probe: optimizedPlan.stats never touches the physical
    // plan (df.rdd would — and under AQE, resolving the RDD's partition
    // count can eagerly materialize shuffle stages, running the query's
    // jobs once before the write runs them again). Frames estimated under
    // ⌈est / target⌉ × current-partition files coalesce down to that count
    // (narrow — no shuffle); anything larger, or without a usable
    // estimate, keeps its partitioning untouched. An under-estimate (post-
    // filter/join without CBO) can only under-coalesce relative to the
    // truth by the same factor — and never below one file per targetBytes
    // of ESTIMATED bytes, so a wildly-wrong estimate degrades to fewer,
    // larger files, not to a single-task stage for a corpus-sized frame
    // unless the estimate itself said "sub-target".
    // The ceil-division runs in BigInt: Long.MaxValue is Spark's marker
    // for a plan without size stats (no usable estimate), and a huge valid
    // estimate can need more partitions than an Int holds. Either way the
    // frame stays as it is.
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = (est + targetBytes - 1) / targetBytes
    if (est > 0 && est < Long.MaxValue && parts.isValidInt)
      df.coalesce(parts.toInt) // no-op when current partitions <= parts
    else df
  }

  // the file size parentSized aims at, the same as rightSized's default
  private val parentTargetBytes = 64L << 20

  /** Size the next Overwrite version of `table` like the one it replaces:
    * coalesce `df` to ⌈bytes of the latest version's files / 64 MB⌉
    * partitions, from a driver-side stat of the listed files (unlike
    * [[rightSized]], no optimizer pass over a large ETL plan: that pass
    * slowed the streaming refresh gates, x29 1.9×; this stat does not).
    * Meant for a merge of the parent with a small delta: a small table
    * lands in one file instead of one per parent file plus one per delta
    * partition, a corpus-sized one keeps about its scan's partitioning. A
    * table with no committed version is left alone. */
  private[graft] def parentSized(table: String, df: DataFrame): DataFrame =
    latestVersion(table).fold(df)(v =>
      df.coalesce(filesFor(versionBytes(table, v), parentTargetBytes)))

  /** ⌈bytes / targetBytes⌉ output files, at least 1. */
  private def filesFor(bytes: Long, targetBytes: Long): Int =
    math.max(1L, math.min(Int.MaxValue.toLong, (bytes + targetBytes - 1) / targetBytes)).toInt

  def commit(spark: SparkSession, table: String, df: DataFrame,
      mode: Mode = Overwrite, expectedVersion: Long = Long.MinValue,
      beforePublish: () => Unit = () => (), tag: Option[String] = None): Long = {
    val (parent, version) = nextVersion(table, expectedVersion)
    // 1. data files, invisible until a manifest names them
    val commitDir = f"data/c$version%016d-${java.util.UUID.randomUUID()}"
    df.write.parquet(s"$table/$commitDir")
    val written = {
      val d = Paths.get(table, commitDir)
      val s = Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
          .toSeq.sorted.map(n => s"$commitDir/$n")
      } finally s.close()
    }
    // R42: per-file column ranges from the freshly-written footers, into a
    // stats.json sidecar beside the data files — atomic with the commit
    // (invisible until the manifest publishes). Best-effort: any failure
    // just disables skipping for these files, never the commit.
    try {
      // footer reads are independent per file: a multi-file commit was
      // paying a sequential ~10-30 ms footer open per file on the driver
      import scala.collection.parallel.CollectionConverters._
      SnapshotStats.write(Paths.get(table, commitDir), written.par.map { f =>
        val name = f.split('/').last
        name -> SnapshotStats.fileStats(s"$table/$f")
      }.seq)
    } catch { case e: Exception =>
      System.err.println(s"[snapshot] stats capture skipped: $e")
    }
    publishFiles(table, version, parent, mode, written, beforePublish, tag)
  }

  /** The shared manifest-publication tail of [[commit]]/[[restore]]/
    * [[clone]]: write the manifest to a temp name nobody reads, then
    * atomically publish-if-absent (losing a race surfaces as
    * [[ConcurrentCommitException]]). */
  private def publishManifest(table: String, version: Long, parent: Option[Long],
      modeLabel: String, tag: Option[String], files: Seq[String],
      beforePublish: () => Unit = () => ()): Long = {
    Files.createDirectories(logDir(table))
    val tmp = logDir(table).resolve(s".tmp-${java.util.UUID.randomUUID()}.json")
    // reject rather than strip: silently rewriting a tag would let two
    // DISTINCT tags alias to one recorded value and false-match the
    // replay-idempotency check
    tag.foreach(t => require(!t.contains("\"") && !t.contains("\\"),
      s"""tag must not contain '"' or '\\': $t"""))
    val tagField = tag.map(t => s""""tag":"$t",""").getOrElse("")
    // R55: commit wall time — the AS OF TIMESTAMP resolution key
    val json = files.map(f => "\"" + f + "\"").mkString(
      s"""{"version":$version,"parent":${parent.getOrElse(-1L)},$tagField""" +
        s""""ts":${System.currentTimeMillis()},""" +
        s""""mode":"$modeLabel","files":[""", ",", "]}")
    Files.write(tmp, json.getBytes("UTF-8"))
    beforePublish()
    try {
      Files.createLink(manifestPath(table, version), tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new ConcurrentCommitException(version)
    }
    version
  }

  /** R47: RESTORE — the table's next version references exactly
    * `toVersion`'s file list (the Delta RESTORE shape). METADATA-ONLY:
    * no data is read, copied or rewritten — one manifest write, O(files)
    * whatever the table size, because published data files are immutable
    * and a manifest is just a list of them. History is preserved: the
    * restore is a NEW version on top (the undone versions stay readable
    * by number until [[vacuum]]), so a bad restore is itself restorable,
    * and [[changesBetween]] across the restore yields exactly the inverse
    * feed of the undone span — the generic file-diff machinery needs no
    * special case. Stats sidecars live beside the original commit dirs,
    * so R42 skipping keeps working on the restored version; vacuum keeps
    * the restored files live because the new manifest references them.
    * CAS via `expectedVersion` as in [[commit]]. */
  def restore(table: String, toVersion: Long,
      expectedVersion: Long = Long.MinValue, tag: Option[String] = None): Long = {
    require(versions(table).contains(toVersion),
      s"cannot restore $table to uncommitted version $toVersion")
    val parent = latestVersion(table)
    if (expectedVersion != Long.MinValue &&
        parent.getOrElse(-1L) != expectedVersion)
      throw new ConcurrentCommitException(parent.getOrElse(-1L))
    val version = parent.getOrElse(0L) + 1
    publishManifest(table, version, parent, "Restore", tag,
      manifestFiles(table, toVersion))
  }

  /** R49: zero-copy shallow CLONE (the Delta SHALLOW CLONE shape) — `dest`
    * becomes an independent snapshot table whose v1 manifest REFERENCES
    * the source version's data files by relative path; nothing is read,
    * copied or rewritten, so forking a 100 TB table for a dev run, an
    * experiment or a what-if migration costs one manifest write. From
    * then on the two tables diverge freely: commits/OPTIMIZE/MERGE on the
    * clone write into the CLONE's own data directory (copy-on-write at
    * file grain — R43 carries untouched source paths verbatim), and the
    * clone's vacuum only ever deletes under the clone's directory, so it
    * can never reclaim source files. Stats sidecars resolve through the
    * relative paths, so R42 skipping keeps working on the clone. The one
    * documented hazard is Delta's own: vacuuming the SOURCE can drop
    * files a shallow clone still references — retention policy must
    * outlive clones, or re-materialize the clone first. */
  def shallowClone(table: String, dest: String, version: Long = -1L,
      tag: Option[String] = None): Long = {
    val v = if (version >= 0) version
      else latestVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no committed version in $table"))
    require(versions(table).contains(v),
      s"cannot clone $table at uncommitted version $v")
    require(latestVersion(dest).isEmpty,
      s"clone destination $dest already has commits")
    val rel = Paths.get(dest).toAbsolutePath.normalize()
      .relativize(Paths.get(table).toAbsolutePath.normalize()).toString
    publishManifest(dest, 1L, None, "Clone", tag,
      manifestFiles(table, v).map(f => s"$rel/$f"))
  }

  /** Read the table at `version` (default: latest). The returned plan scans
    * exactly that version's file list — immutable under later commits.
    *
    * R52 — `mergeSchema = true`: resolve the UNION of every listed file's
    * schema (columns an older commit predates read as null), the Delta
    * column-add evolution shape: widening a table is just an Append whose
    * new files carry the new column, no rewrite of history. Off by default
    * because merged-footer resolution reads every file's footer instead of
    * one; a pinned historical read keeps exactly the schema its files had.
    *
    * With `mergeSchema` off, the schema is the one Spark's inference would
    * find, without its Spark job: see [[footerSchema]]. */
  def read(spark: SparkSession, table: String, version: Long = -1L,
      mergeSchema: Boolean = false): DataFrame = {
    val v = if (version >= 0) version
      else latestVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no committed version in $table"))
    val paths = manifestFiles(table, v).map(f => s"$table/$f")
    if (paths.isEmpty) spark.emptyDataFrame
    else {
      val reader = spark.read.option("mergeSchema", mergeSchema.toString)
      (if (mergeSchema) None else footerSchema(paths))
        .fold(reader)(reader.schema).parquet(paths: _*)
    }
  }

  // the footer entry where Spark's parquet writer records the frame's schema
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
  private val schemaMemo = new FileMemo[Option[StructType]](4096)

  /** The schema `spark.read.parquet(paths)` infers with mergeSchema off,
    * without the Spark job that inference runs to read ONE footer: the file
    * whose qualified path sorts first (`ParquetUtils.inferSchema`). Reads
    * the Spark schema entry of that footer on the driver, memoized per data
    * file. `None` (no entry, as from a non-Spark writer; an empty or
    * unreadable file) leaves the inference, and its errors, to Spark. */
  private def footerSchema(paths: Seq[String]): Option[StructType] =
    try {
      import org.apache.hadoop.fs.{Path => HPath}
      val conf = SnapshotStats.hadoopConf
      val first = paths.map { p =>
        val hp = new HPath(p)
        hp.getFileSystem(conf).makeQualified(hp)
      }.minBy(_.toString)
      val st = first.getFileSystem(conf).getFileStatus(first)
      if (st.getLen == 0) None // inference skips empty files
      else schemaMemo(first.toString, st.getLen, st.getModificationTime) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        val json = try reader.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)
          finally reader.close()
        Option(json).flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
          .collect { case s: StructType => s }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Drop manifests below `keepFrom` and delete data files no retained
    * version references — bounded storage for long-lived tables. Safe
    * against the commit protocol: an in-flight commit's files are either
    * unreferenced AND newer than every retained version's files (their
    * commit dir encodes a version > latest, so they are kept by the
    * version guard), or already published. */
  def vacuum(table: String, keepFrom: Long): Unit = {
    val vs = versions(table)
    val (drop, keep) = vs.partition(_ < keepFrom)
    val live = keep.flatMap(manifestFiles(table, _)).toSet
    val latest = vs.lastOption.getOrElse(0L)
    val dataDir = Paths.get(table, "data")
    if (Files.isDirectory(dataDir)) {
      val s = Files.list(dataDir)
      val dirs = try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
      } finally s.close()
      dirs.foreach { d =>
        val name = d.getFileName.toString
        val dirVersion = name.stripPrefix("c").takeWhile(_.isDigit)
        val inFlight = dirVersion.nonEmpty && dirVersion.toLong > latest
        if (!inFlight) {
          // RECURSIVE walk: partition-aware commits (R54) nest their data
          // files under hive-style value dirs, so a one-level listing
          // would see zero referenced files and delete a live commit
          val entries = {
            val walk = Files.walk(d)
            try {
              import scala.jdk.CollectionConverters._
              walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
            } finally walk.close()
          }
          def rel(f: Path): String = s"data/$name/${d.relativize(f)}"
          val referenced = entries.exists(f => live.contains(rel(f)))
          if (!referenced) {
            val walk = Files.walk(d)
            try {
              import scala.jdk.CollectionConverters._
              walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
            } finally walk.close()
          } else {
            // partially-referenced dir — R43 Replace manifests keep SOME of
            // a commit's files live; reclaim the individually-dead parquet
            // files (sidecars stay: their stale entries are keyed by file
            // name and never consulted for deleted files)
            entries
              .filter { f =>
                val n = f.getFileName.toString
                n.startsWith("part-") && n.endsWith(".parquet") &&
                  !live.contains(rel(f))
              }
              .foreach(Files.deleteIfExists(_))
          }
        }
      }
    }
    drop.foreach(v => Files.deleteIfExists(manifestPath(table, v)))
  }

  /** Total on-disk bytes of one version's data files. */
  private def versionBytes(table: String, v: Long): Long =
    manifestFiles(table, v).map(f => Files.size(Paths.get(table, f))).sum

  /** R42: the version's file list split by `pred` into (kept, skipped)
    * using each commit directory's stats sidecar — files without stats are
    * always kept. Exposed so specs and planners can assert skipping. */
  def prunedFiles(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column,
      version: Long = -1L): (Seq[String], Seq[String]) = {
    val v = if (version >= 0) version
      else latestVersion(table).getOrElse(
        throw new IllegalArgumentException(s"no committed version in $table"))
    val files = manifestFiles(table, v)
    val statsByDir = files.map(f => f.take(f.lastIndexOf('/'))).distinct
      .map(d => d -> SnapshotStats.load(Paths.get(table, d, "stats.json"))).toMap
    // resolve the predicate against the table's schema through the
    // analyzer + optimizer: the raw Column converts to a lazy ColumnNode
    // wrapper (unmatchable), while the optimized Filter condition carries
    // typed comparisons with casts folded — exactly what the range check
    // wants. No Filter survives (predicate folded away) → no pruning.
    val cond: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      read(spark, table, v).filter(pred).queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    files.partition { f =>
      val dir = f.take(f.lastIndexOf('/'))
      val name = f.split('/').last
      (statsByDir(dir).get(name), cond) match {
        case (Some(st), Some(c)) => SnapshotStats.mayContain(c, st)
        case _ => true
      }
    }
  }

  /** R43: copy-on-write MERGE — apply a changeset of insert/update/delete
    * row images ([[Upsert.applyChanges]] semantics: `opCol` ∈ I/U/D, at
    * most one image per key) to a snapshot table, rewriting ONLY the files
    * that can contain changed keys. R42's footer stats locate them: a file
    * whose first-key-column range excludes every change key provably holds
    * no changed row, so its path carries into the next manifest VERBATIM —
    * no read, no write, no copy. On a key-clustered layout (sorted writes,
    * R41 z-order) a narrow changeset rewrites a handful of files out of
    * thousands; stats-less or unclustered files fall back to rewrite —
    * conservative, never wrong. Driver memory is BOUNDED whatever the
    * changeset width: up to [[KeyPruneCapDefault]] distinct first-key
    * values are collected (LIMIT-capped) for exact per-key pruning and a
    * broadcast anti-join; past the cap, pruning switches to the key
    * EXTREMA (one distributed agg) against each file's (min, max) range
    * and the anti-join shuffles instead of broadcasting — nothing
    * key-set-sized ever lands on the driver. Commit is CAS'd on the observed
    * version: a racing writer wins, the merge retries. This is the Delta/
    * Hudi MERGE INTO shape the plain-directory R25 cannot offer. */
  def merge(spark: SparkSession, table: String, changes: DataFrame,
      keyCols: Seq[String], opCol: String = "op",
      beforePublish: () => Unit = () => (), tag: Option[String] = None,
      evolveSchema: Boolean = false): Long = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val files = manifestFiles(table, v)
    val k0 = keyCols.head
    // ONE materialization of the changeset: it feeds the driver-side key
    // collect, the anti-join and the insert union — re-evaluating a
    // non-deterministic changeset between those would classify a file as
    // untouched under one key set and insert images under another,
    // leaving duplicate rows
    val pinned = changes.cache()
    try merge0(spark, table, pinned, keyCols, opCol, beforePublish, v, files, k0, tag,
      evolveSchema)
    finally { pinned.unpersist(): Unit }
  }

  /** Above this many distinct change keys, per-key file pruning stops
    * paying for itself: the driver collect is O(keys) memory and the
    * pruning loop O(files × keys) CPU — a 100 TB merge with 10⁸ distinct
    * keys would OOM the driver before touching data. Override per session
    * with `spark.graft.merge.keyPruneCap`. */
  private val KeyPruneCapConf = "spark.graft.merge.keyPruneCap"
  private val KeyPruneCapDefault = 100000

  private def merge0(spark: SparkSession, table: String, changes: DataFrame,
      keyCols: Seq[String], opCol: String, beforePublish: () => Unit,
      v: Long, files: Seq[String], k0: String, tag: Option[String],
      evolveSchema: Boolean): Long = {
    import org.apache.spark.sql.functions.{broadcast, col, max, min}
    // BOUNDED key collect: LIMIT cap+1 caps what the driver materializes
    // regardless of changeset width. A narrow changeset (the common MERGE)
    // keeps exact per-key pruning; a wide one falls back to its distinct
    // keys' EXTREMA — one distributed agg, two values on the driver, O(1)
    // per file — which still skips every file wholly outside the
    // changeset's key span (clustered layouts keep most of their files
    // there). Conservative in both modes: pruning only ever removes files
    // PROVABLY free of change keys.
    val cap = spark.conf.get(KeyPruneCapConf, KeyPruneCapDefault.toString).toInt
    val keyRows = changes.select(col(k0)).distinct().limit(cap + 1).collect()
    val wide = keyRows.length > cap
    val prune: SnapshotStats.ColStats => Boolean =
      if (!wide) {
        val keyVals = keyRows.map(_.get(0)).toSeq
        st => SnapshotStats.rangeContainsAny(st, keyVals)
      } else {
        val ext = changes.agg(min(col(k0)), max(col(k0))).head()
        val (lo, hi) = (ext.get(0), ext.get(1))
        st => SnapshotStats.rangeOverlaps(st, lo, hi)
      }
    val statsByDir = files.map(f => f.take(f.lastIndexOf('/'))).distinct
      .map(d => d -> SnapshotStats.load(Paths.get(table, d, "stats.json"))).toMap
    val (touched, untouched) = files.partition { f =>
      val dir = f.take(f.lastIndexOf('/'))
      val name = f.split('/').last
      statsByDir(dir).get(name).flatMap(_.get(k0)) match {
        case Some(st) => prune(st)
        case None => true // no stats for the key column: must rewrite
      }
    }
    val touchedDf =
      if (touched.isEmpty) read(spark, table, v).limit(0)
      else spark.read.parquet(touched.map(f => s"$table/$f"): _*)
    // R59: evolveSchema is Delta-style autoMerge — a changeset carrying
    // columns the table lacks ADDS them (survivor and untouched rows read
    // null through an R52 mergeSchema read), and table columns a changeset
    // omits null-fill on the inserted images. Strict mode (the default)
    // keeps schema drift a loud error: evolution must be an explicit
    // decision, not a typo'd column name silently forking the schema.
    // Untouched files keep their old physical schema — that is exactly the
    // R52 contract, so no rewrite amplification from a widening merge.
    // The anti-join side is broadcast only when the changeset is narrow
    // enough to have been collected; a wide changeset key set shuffles
    // (sort-merge/AQE), never ships whole to every executor.
    val changeKeys = changes.select(keyCols.map(col): _*).distinct()
    val rewritten = touchedDf
      .join(if (wide) changeKeys else broadcast(changeKeys), keyCols, "left_anti")
      .unionByName(changes.filter(col(opCol) =!= "D").drop(opCol),
        allowMissingColumns = evolveSchema)
    commit(spark, table, rewritten, mode = Replace(untouched),
      expectedVersion = v, beforePublish = beforePublish, tag = tag)
  }

  /** R42: read with file skipping — scan only the files whose (min, max)
    * ranges can satisfy `pred`, then apply `pred` as the residual filter
    * (skipping is best-effort; the filter makes the result exact). On a
    * layout that clusters the predicate columns (sorted writes, R41 z-order
    * OPTIMIZE) a selective read plans a handful of files instead of the
    * table. */
  def readPruned(spark: SparkSession, table: String,
      pred: org.apache.spark.sql.Column, version: Long = -1L): DataFrame = {
    val (kept, _) = prunedFiles(spark, table, pred, version)
    val scan =
      if (kept.isEmpty) read(spark, table, version).limit(0)
      else spark.read.parquet(kept.map(f => s"$table/$f"): _*)
    scan.filter(pred)
  }

  /** R44: change-data-feed read — the NET row-level changes between two
    * committed versions, derived from the manifest file diff alone (the
    * Delta CDF read shape, without requiring writers to stage change
    * files): files named by both manifests are untouched and contribute
    * nothing; only files ADDED since `fromVersion` (candidate new images)
    * and files REMOVED (candidate old images) are read at all. Row images
    * are keyed and diffed:
    *
    *   key only in added files            → `I`  (new image)
    *   key only in removed files          → `D`  (old image)
    *   key in both, any non-key col diff  → `U_pre` (old) + `U_post` (new)
    *   key in both, images identical      → suppressed (a rewrite that
    *     carried the row — OPTIMIZE, compaction, or a merge's anti-join
    *     keep — is not a logical change; R41 between two versions yields
    *     an EMPTY feed)
    *
    * Semantics are NET over the version range: a key inserted then deleted
    * within (from, to] emits nothing; inserted then updated emits one `I`
    * with the final image. `fromVersion = 0` reads the whole table as `I`
    * (bootstrap). The fold contract — `applyChanges(read(from), feed)` ≡
    * `read(to)` — is asserted in `SnapshotCdcSpec`.
    *
    * Contract: the table is key-unique per version in `keyCols` (the
    * [[merge]]/[[Upsert.applyChanges]] discipline).
    *
    * Scale shape: cost is proportional to the CHURNED files, never the
    * table — an Append-only history short-circuits to a join-free scan of
    * just the new files (plan-asserted in the spec), and the diff join
    * shuffles only rewritten-file rows. At 100 TB with R42/R43 confining
    * merges to a handful of files, a CDC read is a handful-of-files scan.
    * Downstream X14 turns this feed into incremental view maintenance. */
  def changesBetween(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String], opCol: String = "op"): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"need 0 <= fromVersion <= toVersion, got ($fromVersion, $toVersion)")
    val fromFiles =
      if (fromVersion == 0) Set.empty[String]
      else manifestFiles(table, fromVersion).toSet
    val toFiles = manifestFiles(table, toVersion).toSet
    val added = (toFiles -- fromFiles).toSeq.sorted
    val removed = (fromFiles -- toFiles).toSeq.sorted
    val schema = read(spark, table, toVersion).schema
    val dataCols = schema.fieldNames.filterNot(keyCols.contains).toSeq
    // both sides scan under the TARGET version's schema: files committed
    // before a column was added null-fill it, files carrying a since-dropped
    // column lose it — so a CDC range spanning schema evolution still diffs
    // (and its U_pre images render) in the reader's vocabulary instead of
    // failing on mismatched shapes
    def scan(files: Seq[String]): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else spark.read.schema(schema).parquet(files.map(f => s"$table/$f"): _*)
    if (removed.isEmpty)
      // append-only fast path: every added-file row is an insert — no join,
      // no shuffle, and an empty diff stays an empty scan
      scan(added).withColumn(opCol, lit("I"))
    else {
      // presence markers, not data-col nulls, decide the side a key hit:
      // a legitimately-null data column must not masquerade as "missing"
      val newDf = scan(added).withColumn("__new", lit(true))
        .select(keyCols.map(col) ++ dataCols.map(c => col(c).as(s"__n_$c"))
          :+ col("__new"): _*)
      val oldDf = scan(removed).withColumn("__old", lit(true))
        .select(keyCols.map(col) ++ dataCols.map(c => col(c).as(s"__o_$c"))
          :+ col("__old"): _*)
      val newImg = struct(keyCols.map(col) ++
        dataCols.map(c => col(s"__n_$c").as(c)): _*)
      val oldImg = struct(keyCols.map(col) ++
        dataCols.map(c => col(s"__o_$c").as(c)): _*)
      val changes = oldDf.join(newDf, keyCols, "full_outer")
        // suppress rewrite-carried rows first (present on both sides,
        // image-identical) so every surviving row maps to 1–2 change rows
        .filter(col("__old").isNull || col("__new").isNull ||
          !(newImg <=> oldImg))
        .select(
          when(col("__old").isNull,
              array(struct(lit("I").as(opCol), newImg.as("img"))))
            .when(col("__new").isNull,
              array(struct(lit("D").as(opCol), oldImg.as("img"))))
            .otherwise(
              array(struct(lit("U_pre").as(opCol), oldImg.as("img")),
                struct(lit("U_post").as(opCol), newImg.as("img"))))
            .as("ch"))
        .select(explode(col("ch")).as("c"))
      changes.select(
        schema.fieldNames.toSeq.map(c => col(s"c.img.$c").as(c))
          :+ col(s"c.$opCol").as(opCol): _*)
    }
  }

  /** R41: OPTIMIZE — rewrite the current version's rows into ~`targetBytes`
    * files (bin-packed compaction by default; z-order clustering when
    * `zorderCols` is given) and commit them as the next version. The
    * committed frame IS the pinned read of the observed version, so the
    * operation is content-preserving by construction; readers keep snapshot
    * isolation throughout (the fragmented version stays current until the
    * manifest lands), and the CAS on the observed version means a racing
    * writer WINS — the maintenance job gets [[ConcurrentCommitException]]
    * and retries later, it can never clobber data. This is the atomicity
    * R26/R21's bare directory rewrites cannot offer: a reader mid-scan
    * during those sees partial state, here it sees exactly one version.
    * Run [[vacuum]] once old versions age out to reclaim the fragments. */
  def optimize(spark: SparkSession, table: String,
      targetBytes: Long = 128L * 1024 * 1024, zorderCols: Seq[String] = Nil,
      bitsPerCol: Int = 12, beforePublish: () => Unit = () => ()): Long = {
    val v = latestVersion(table).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    if (zorderCols.isEmpty)
      // scan-side bin packing sizes the output files: the commit's write
      // runs inside the conf window, so its input partitions ARE the bins
      Compaction.withBinPackedScan(spark, targetBytes) {
        commit(spark, table, read(spark, table, v),
          expectedVersion = v, beforePublish = beforePublish)
      }
    else {
      val parts = filesFor(versionBytes(table, v), targetBytes)
      commit(spark, table,
        ZOrder.clusteredFrame(read(spark, table, v), zorderCols, parts, bitsPerCol),
        expectedVersion = v, beforePublish = beforePublish)
    }
  }
}
