package graft.operators

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** R50: atomic CROSS-TABLE transactions over [[SnapshotTable]]s, and the
  * only way to publish several tables together. A transaction stages
  * ordinary per-table commits (each atomic on its own) and then publishes
  * ONE txn manifest pinning every member table to the exact version the
  * transaction wrote. Readers that resolve versions through txn manifests
  * observe whole transactions: a writer crashing after some table commits
  * but before the txn publish leaves those versions dark (unreferenced,
  * never read, vacuumable), and a racing reader keeps resolving the
  * previous txn — never a mix of old and new tables.
  *
  * The rule every multi-table writer keeps: a table under a txn root is
  * written only through the txn, and readers that need a cut resolve it
  * through the latest txn ([[cut]], [[readAt]], [[tableVersions]]).
  * Replay idempotency lives on the txn too: a tagged commit whose tag is
  * already published stages nothing ([[hasTag]]), so at-least-once
  * streaming sinks need no per-table tag checks.
  *
  * This is the multi-table commit discipline of the lakehouse formats
  * (Delta's single-log limitation is exactly why its users ask for this):
  * the cut is a first-class, CAS-able, time-travelable object.
  *
  * Layout: member tables live at `root/<name>` as ordinary snapshot
  * tables; txn manifests at `root/_txnlog/t%016d.json` hold
  * `{"txn":n,"parent":p,"tag":...,"tables":{"name":version,...}}` and
  * publish with the same write-temp + hard-link publish-if-absent protocol
  * as table manifests (atomic on POSIX local/NFS/HDFS-style semantics).
  *
  * Scale: a txn manifest is O(tables) bytes regardless of data size; the
  * data cost is the member commits themselves, which run concurrently.
  * Readers pay one tiny JSON read to pin an arbitrary number of tables,
  * parsed once per process (a stat per later resolution).
  */
object SnapshotTxn {

  private def logDir(root: String): Path = Paths.get(root, "_txnlog")
  private def txnPath(root: String, t: Long): Path =
    logDir(root).resolve(f"t$t%016d.json")

  /** All published txn ids, ascending. */
  def txns(root: String): Seq[Long] = {
    val d = logDir(root)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("t") && n.endsWith(".json") =>
          n.stripPrefix("t").stripSuffix(".json").toLong }
        .toSeq.sorted
    } finally s.close()
  }

  def latestTxn(root: String): Option[Long] = txns(root).lastOption

  // one parse per published txn manifest per process, as for table manifests
  private val txnMemo = new SnapshotTable.FileMemo[(Option[String], Map[String, Long])](4096)

  /** Txn manifest JSON parses actually performed (cache misses) under `root`. */
  private[operators] def txnParsesOf(root: String): Long = txnMemo.parsesOf(SnapshotTable.dirKey(root))

  /** (tag, table → version) of published txn `t`. */
  private def info(root: String, t: Long): (Option[String], Map[String, Long]) =
    txnMemo.ofFile(txnPath(root, t), SnapshotTable.dirKey(root)) {
      val json = new String(Files.readAllBytes(txnPath(root, t)), "UTF-8")
      val tables = "\"tables\"\\s*:\\s*\\{([^}]*)\\}".r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
      ("\"tag\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1)),
        "\"([^\"]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(tables)
          .map(m => m.group(1) -> m.group(2).toLong).toMap)
    }

  /** The (table → version) map a txn pinned (default: latest). */
  def tableVersions(root: String, txn: Long = -1L): Map[String, Long] = {
    val t = if (txn >= 0) txn else latestTxn(root).getOrElse(
      throw new IllegalArgumentException(s"no committed txn under $root"))
    info(root, t)._2
  }

  /** The idempotency tag a txn was published with, if any. */
  def tagOf(root: String, txn: Long = -1L): Option[String] = {
    val t = if (txn >= 0) txn else latestTxn(root).getOrElse(return None)
    try info(root, t)._1 catch { case _: java.nio.file.NoSuchFileException => None }
  }

  /** The newest published txn carrying `tag`. */
  private def tagged(root: String, tag: String): Option[Long] =
    txns(root).reverseIterator.find(t => info(root, t)._1.contains(tag))

  /** Whether any published txn carries `tag` — the replay check of an
    * at-least-once sink: a stat per retained txn. */
  def hasTag(root: String, tag: String): Boolean = tagged(root, tag).isDefined

  /** Run `jobs` concurrently, one driver thread each, and return their
    * results in order. Spark runs concurrent jobs from separate submitting
    * threads, so independent writes overlap instead of leaving the cluster
    * idle between scheduling-sized jobs. Every job ends before the first
    * failure is rethrown: nothing keeps writing after this returns. */
  private[graft] def concurrently[A](jobs: Seq[() => A]): Seq[A] = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(math.max(1, jobs.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val running = jobs.map(job => Future(job()))
      running.foreach(Await.ready(_, Duration.Inf))
      running.map(_.value.get.get)
    } finally pool.shutdown()
  }

  /** Commit `pairs` as ONE transaction: member tables commit concurrently
    * (atomic each), then a single txn manifest publishes the whole cut.
    * `expectedTxn` CASes on the parent txn (-1 = require a fresh log);
    * `tag` makes the commit replay-idempotent: if a txn with this tag is
    * already published, NOTHING is staged and its txn id returns — the
    * at-least-once streaming/retry discipline (member manifests record the
    * tag too, for [[SnapshotTable.history]]). `beforePublish` is the
    * crash-injection window between the member commits and the txn
    * publish. Returns the txn id. */
  def commit(spark: SparkSession, root: String, pairs: Seq[(String, DataFrame)],
      mode: SnapshotTable.Mode = SnapshotTable.Overwrite,
      expectedTxn: Long = Long.MinValue, tag: Option[String] = None,
      beforePublish: () => Unit = () => ()): Long = {
    tag.foreach(tg => require(!tg.contains("\"") && !tg.contains("\\"),
      s"""tag must not contain '"' or '\\': $tg"""))
    val replayed = tag.flatMap(tagged(root, _))
    if (replayed.isDefined) return replayed.get // already fully published
    val parent = latestTxn(root)
    if (expectedTxn != Long.MinValue && parent.getOrElse(-1L) != expectedTxn)
      throw new SnapshotTable.ConcurrentCommitException(parent.getOrElse(-1L))
    val txn = parent.getOrElse(0L) + 1
    // carry forward tables the txn does not touch — a reader of txn n must
    // be able to resolve EVERY table the log has ever pinned
    val carried = parent.map(tableVersions(root, _)).getOrElse(Map.empty)
    // 1. stage member commits concurrently — published per-table but dark
    //    until the txn manifest names them
    val versions = concurrently(pairs.map { case (name, df) =>
      require(!name.contains("/") && !name.contains("\""),
        s"table name must be a simple identifier: $name")
      // txn-level Append must append onto the LAST PUBLISHED CUT, not the
      // per-table latest: a crashed attempt leaves a DARK version whose
      // file list already contains its batch — plain Append on replay
      // would carry those files AND write the batch again, doubling it.
      // Replace(base files of the published cut) is immune by
      // construction; Overwrite/Replace pass through untouched.
      val effMode = mode match {
        case SnapshotTable.Append =>
          SnapshotTable.Replace(carried.get(name)
            .map(v => SnapshotTable.manifestFiles(s"$root/$name", v)).getOrElse(Seq.empty))
        case other => other
      }
      () => name -> SnapshotTable.commit(spark, s"$root/$name", df, mode = effMode, tag = tag)
    })
    val all = (carried ++ versions).toSeq.sortBy(_._1)
    // 2. one txn manifest names the whole cut
    Files.createDirectories(logDir(root))
    val tmp = logDir(root).resolve(s".tmp-${java.util.UUID.randomUUID()}.json")
    val tagField = tag.map(t => s""""tag":"$t",""").getOrElse("")
    val body = all.map { case (n, v) => s""""$n":$v""" }.mkString(
      s"""{"txn":$txn,"parent":${parent.getOrElse(-1L)},$tagField"tables":{""",
      ",", "}}")
    Files.write(tmp, body.getBytes("UTF-8"))
    beforePublish()
    try {
      Files.createLink(txnPath(root, txn), tmp)
      Files.deleteIfExists(tmp)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new SnapshotTable.ConcurrentCommitException(txn)
    }
    txn
  }

  /** The minimum version of `table` that any published txn still pins.
    * [[SnapshotTable.vacuum]] on a MEMBER table must keep from at most
    * this version — per-table vacuuming below it would delete files a
    * retained txn cut still resolves to. (Txn manifests are the source of
    * truth for liveness here, exactly like table manifests are for files.) */
  def minPinnedVersion(root: String, table: String): Option[Long] = {
    val pinned = txns(root).flatMap(t => tableVersions(root, t).get(table))
    if (pinned.isEmpty) None else Some(pinned.min)
  }

  /** The tables of one txn (default: the latest), resolved once: each read
    * scans exactly the version that txn pinned — immutable under later
    * txns, so a job reading many tables from one cut sees a consistent
    * state for its whole lifetime. */
  def cut(spark: SparkSession, root: String, txn: Long = -1L): String => DataFrame = {
    val vs = tableVersions(root, txn)
    table => SnapshotTable.read(spark, s"$root/$table", vs.getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table is not pinned by txn ${if (txn >= 0) txn else "latest"} " +
          s"(pinned: ${vs.keys.toSeq.sorted.mkString(", ")})")))
  }

  /** Read `table` at the version `txn` pinned (default: latest txn). */
  def readAt(spark: SparkSession, root: String, table: String,
      txn: Long = -1L): DataFrame = cut(spark, root, txn)(table)
}
