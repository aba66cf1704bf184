package graft.operators

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.HexFormat

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BloomAgg

/** R51: per-file BLOOM sidecars for point-lookup file skipping — the probe
  * R42's (min, max) ranges cannot answer. On an UNSORTED or append-ordered
  * layout every file's key range spans the table, so a `key = ?` read
  * still scans everything; a per-file Bloom filter skips any file that
  * provably lacks the key, at ~2 bytes/key of sidecar. This is Parquet's
  * own bloom feature and Delta's deletion-vector-adjacent index, done at
  * the manifest layer where the commit protocol already gives atomicity.
  *
  * Build ([[attach]]): ONE column-pruned pass per attach — a group-by on
  * `input_file_name()` whose aggregate is the native [[BloomAgg]] bitset
  * (fixed m/8-byte state per partition, OR-merge, order-independent), so
  * the build is a normal partial-agg plan, never a driver-side set
  * collect. m auto-sizes to `bitsPerKey` × rows-per-file (power of two,
  * clamped), k = 3 → ~0.5% false positives at 16 bits/key. Sidecars
  * (`bloom.json`) land beside `stats.json` via write-temp + atomic move:
  * a reader either sees a complete sidecar or none, and none just means
  * no skipping. Vacuum semantics match stats (dir-scoped, stale entries
  * keyed by file name are never consulted for deleted files).
  *
  * Query ([[readPoint]]): probe positions come from the SAME
  * [[BloomAgg.position]] the build used — build and probe cannot drift —
  * and the equality filter is always applied to the scanned files, so
  * false positives cost I/O, never correctness. */
object SnapshotBloom {

  val Sidecar = "bloom.json"
  private val mapper = new ObjectMapper()

  private def clampPow2(x: Long): Int = {
    val c = math.min(1L << 26, math.max(4096L, x))
    var p = 4096
    while (p < c) p <<= 1
    p
  }

  /** Build blooms for every file of `version` (default latest) over the
    * integral columns `cols`; returns the chosen m. */
  def attach(spark: SparkSession, table: String, cols: Seq[String],
      version: Long = -1L, bitsPerKey: Int = 16, k: Int = 3): Int = {
    require(cols.nonEmpty && bitsPerKey >= 4)
    val files = SnapshotTable.manifestFiles(table, SnapshotTable.resolve(table, version))
    if (files.isEmpty) return 0
    val paths = files.map(f => s"$table/$f")
    val n = spark.read.parquet(paths: _*).count()
    val m = clampPow2(bitsPerKey.toLong * math.max(1L, n / files.size))
    val aggs = cols.map(c => BloomAgg.bloomBits(col(c), m, k).as(s"__b_$c"))
    val rows = spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    // resolve the scan's absolute/URI path back to the manifest-relative name
    val byFile: Seq[(String, Map[String, Array[Byte]])] = rows.toSeq.map { r =>
      val uri = r.getString(0)
      val rel = files.find(f => uri.endsWith(f)).getOrElse(
        throw new IllegalStateException(s"unmatched scan file $uri"))
      rel -> cols.zipWithIndex.map { case (c, i) =>
        c -> r.getAs[Array[Byte]](i + 1)
      }.toMap
    }
    byFile.groupBy { case (rel, _) => rel.take(rel.lastIndexOf('/')) }
      .foreach { case (dir, entries) =>
      val sidecar = Paths.get(table, dir, Sidecar)
      // merge with any prior attach of other columns/versions in this dir
      val root = if (Files.exists(sidecar))
        mapper.readTree(Files.readAllBytes(sidecar)).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
      else mapper.createObjectNode()
      for ((rel, colBits) <- entries) {
        val name = rel.split('/').last
        val fileNode = Option(root.get(name)) match {
          case Some(o: com.fasterxml.jackson.databind.node.ObjectNode) => o
          case _ => root.putObject(name)
        }
        for ((c, bits) <- colBits) {
          val cn = fileNode.putObject(c)
          cn.put("m", m)
          cn.put("k", k)
          cn.put("bits", HexFormat.of().formatHex(bits))
        }
      }
      val tmp = Paths.get(table, dir, s".tmp-bloom-${java.util.UUID.randomUUID()}")
      Files.write(tmp, mapper.writeValueAsBytes(root))
      Files.move(tmp, sidecar, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    m
  }

  /** Partition `version`'s files into (may contain `value`, provably not)
    * by the bloom sidecars; files without a bloom for `colName` are kept. */
  def prunedFiles(spark: SparkSession, table: String, colName: String,
      value: Long, version: Long = -1L): (Seq[String], Seq[String]) = {
    val files = SnapshotTable.manifestFiles(table, SnapshotTable.resolve(table, version))
    val bloomOf = SnapshotTable.byDir(table, files) { d =>
      val p = d.resolve(Sidecar)
      if (Files.exists(p)) Some(mapper.readTree(Files.readAllBytes(p))) else None
    }
    files.partition { f =>
      val name = f.split('/').last
      bloomOf(f).flatMap(r => Option(r.get(name))).flatMap(fn => Option(fn.get(colName))) match {
        case Some(cn) =>
          val m = cn.get("m").asInt()
          val k = cn.get("k").asInt()
          val bits = HexFormat.of().parseHex(cn.get("bits").asText())
          BloomAgg.mightContain(bits, m, k, value)
        case None => true // no bloom: must scan
      }
    }
  }

  /** Point lookup with bloom skipping — scan only files that may hold
    * `value`, then the exact equality filter (false positives cost I/O,
    * never rows). */
  def readPoint(spark: SparkSession, table: String, colName: String,
      value: Long, version: Long = -1L): DataFrame = {
    val (kept, _) = prunedFiles(spark, table, colName, value, version)
    val scan =
      if (kept.isEmpty) SnapshotTable.read(spark, table, version).limit(0)
      else spark.read.parquet(kept.map(f => s"$table/$f"): _*)
    scan.filter(col(colName) === value)
  }
}
