package graft.operators

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{col, hash, lit, pmod, unix_micros}

/** R54: HIDDEN-partition transforms for [[SnapshotTable]] commits and the
  * pruning they allow — the Iceberg partitioning model grafted onto the
  * manifest log. This object defines what a transform means, how a commit
  * directory records its transforms, and how a file's partition tuple
  * prunes; the commit, the pruned read and OPTIMIZE are
  * [[SnapshotTable.commit]] (`partitionBy`), [[SnapshotTable.prunedFiles]]/
  * [[SnapshotTable.readPruned]] and [[SnapshotTable.optimize]].
  *
  * R42's footer stats prune on VALUE RANGES, which only bite when the
  * layout happens to cluster the predicate column. Partitioning makes the
  * clustering a declared contract: each data file lives under hive-style
  * directories of DERIVED partition values, and the manifest's file paths
  * therefore carry an exact per-file partition tuple — pruning reads paths,
  * not footers. The partitioning is HIDDEN (Iceberg's core fix to hive
  * tables): queries predicate on the SOURCE column (`ts`, `user_id`), never
  * on a synthetic partition column, so a layout change cannot silently
  * break query correctness — only pruning effectiveness. Source columns
  * stay IN the data files (only the derived `__p*` columns are carried by
  * the directory names), so a pinned read of any version needs no partition
  * reconstruction.
  *
  * Transforms (each maps a predicate on the source to a partition bound):
  *   - [[Identity]]: value itself — equality and ranges prune;
  *   - [[Truncate]]: floor to a width-multiple (longs) — ranges prune,
  *     because floor preserves order;
  *   - [[Day]]: UTC epoch-day of a timestamp — timestamp ranges prune (the
  *     literal compares in micros against the day's micro-span);
  *   - [[Bucket]]: murmur3-mod-n — equality/IN prune (hash the literal).
  *
  * SPEC EVOLUTION is per-commit, Iceberg-style: every partitioned commit
  * directory records ITS transform list in a `pspec.json` sidecar, so
  * re-partitioning a table is just "future commits use the new spec" — no
  * rewrite of history, and pruning evaluates each file under the spec it
  * was written with. Files of a foreign spec (or none) simply never prune —
  * the conservative polarity R42 established; the residual filter keeps
  * every read exact. Per-leaf `stats.json` sidecars make R42 min/max
  * skipping compose with the path tuple ([[mayContain]]).
  *
  * Scale shape: pruning is a driver-side walk over the manifest's PATHS —
  * zero data I/O, O(files) string work; at 100 TB with daily partitions a
  * one-day dashboard query plans 1/365th of the table before any executor
  * starts, and the bucket transform turns point lookups on a high-card key
  * into single-bucket scans. The write adds one local sort per task (the
  * dynamic-partition insert shape); small-file explosion is bounded by
  * choosing transforms whose cardinality matches the data volume (the same
  * judgment call Iceberg documents), and R41 OPTIMIZE repacks within a
  * partition when ingest dribbles.
  */
object SnapshotPartitions {

  /** One partition transform over a source column. `partCol` is the
    * synthetic hive directory-name column — namespaced per transform kind
    * so evolving `Identity(x)` → `Bucket(x, n)` can never collide. */
  sealed trait Transform {
    def source: String
    def partCol: String
    private[operators] def expr: Column
    private[operators] def kind: String
    private[operators] def param: Long
  }

  final case class Identity(source: String) extends Transform {
    val partCol = s"__p_$source"
    private[operators] def expr: Column = col(source)
    private[operators] def kind = "identity"
    private[operators] def param = 0L
  }

  /** Floor `source` (integral) to a multiple of `width`. */
  final case class Truncate(source: String, width: Long) extends Transform {
    require(width > 0, s"truncate width must be positive: $width")
    val partCol = s"__pt_$source"
    // x - pmod(x, w) floors toward -inf for negatives too (pmod >= 0)
    private[operators] def expr: Column =
      (col(source) - pmod(col(source), lit(width))).cast("long")
    private[operators] def kind = "truncate"
    private[operators] def param = width
  }

  /** murmur3(source) mod `n` — Spark's `hash()`, reproducible driver-side. */
  final case class Bucket(source: String, n: Int) extends Transform {
    require(n > 0, s"bucket count must be positive: $n")
    val partCol = s"__pb_$source"
    private[operators] def expr: Column = pmod(hash(col(source)), lit(n))
    private[operators] def kind = "bucket"
    private[operators] def param = n.toLong
  }

  /** UTC epoch-day of a timestamp column. */
  final case class Day(source: String) extends Transform {
    val partCol = s"__pd_$source"
    private val MicrosPerDay = 86400000000L
    // exact integer floor: (micros - pmod(micros, day)) / day — a double
    // division could mis-bin values near day boundaries past 2^53
    private[operators] def expr: Column =
      ((unix_micros(col(source)) - pmod(unix_micros(col(source)), lit(MicrosPerDay)))
        / MicrosPerDay).cast("long")
    private[operators] def kind = "day"
    private[operators] def param = 0L
  }

  private val MicrosPerDay = 86400000000L
  private val HiveNull = "__HIVE_DEFAULT_PARTITION__"

  // ------------------------------------------------------------ spec

  /** Record `transforms` in the commit directory's `pspec.json`. */
  private[operators] def writeSpec(commitDir: Path, transforms: Seq[Transform]): Unit = {
    val root = new java.util.LinkedHashMap[String, Object]()
    val arr = new java.util.ArrayList[Object]()
    for (t <- transforms) {
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("kind", t.kind)
      m.put("source", t.source)
      m.put("param", java.lang.Long.valueOf(t.param))
      arr.add(m)
    }
    root.put("transforms", arr)
    new ObjectMapper().writeValue(commitDir.resolve("pspec.json").toFile, root)
  }

  /** The transform list a commit directory was written under (empty for
    * flat commits / unreadable specs — those files never prune). */
  private[operators] def loadSpec(commitDir: Path): Seq[Transform] = {
    val p = commitDir.resolve("pspec.json")
    if (!Files.isRegularFile(p)) return Seq.empty
    try {
      val root = new ObjectMapper().readTree(p.toFile)
      root.get("transforms").elements().asScala.flatMap { n =>
        val src = n.get("source").asText()
        n.get("kind").asText() match {
          case "identity" => Some(Identity(src))
          case "truncate" => Some(Truncate(src, n.get("param").asLong()))
          case "bucket" => Some(Bucket(src, n.get("param").asInt()))
          case "day" => Some(Day(src))
          case _ => None // forward-compat: unknown transform = no pruning
        }
      }.toSeq
    } catch { case _: Exception => Seq.empty }
  }

  // ------------------------------------------------------------ pruning

  /** Undo hive path escaping: `%xx` byte sequences only — URLDecoder would
    * also turn a literal `+` into a space, which Spark never encodes, and a
    * corrupted value means WRONG pruning, not conservative pruning. */
  private def unescapeHive(s: String): String = {
    if (!s.contains('%')) return s
    val bytes = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
          i += 3
        } catch { case _: NumberFormatException =>
          bytes.write(s.substring(i, i + 1).getBytes("UTF-8")); i += 1
        }
      } else {
        bytes.write(c.toString.getBytes("UTF-8")); i += 1
      }
    }
    new String(bytes.toByteArray, "UTF-8")
  }

  /** The hive `name=value` tuple encoded in a manifest path, decoded. */
  private def partValues(relToCommit: String): Map[String, String] =
    relToCommit.split('/').dropRight(1).iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(seg.take(i) -> unescapeHive(seg.drop(i + 1)))
    }.toMap

  /** Source-column ranges implied by a file's partition tuple — fed to the
    * SAME conservative range checker R42 uses ([[SnapshotStats.mayContain]]).
    * Bucket implies no range (handled by [[bucketMayContain]]). */
  private def impliedStats(spec: Seq[Transform],
      vals: Map[String, String]): Map[String, SnapshotStats.ColStats] =
    spec.iterator.flatMap {
      case t @ Identity(src) =>
        vals.get(t.partCol).filter(_ != HiveNull).map { v =>
          // numeric-looking values range as numbers (matches a numeric
          // literal); anything else as the string itself. A string COLUMN
          // whose value happens to parse numerically yields a numeric
          // range that is simply incomparable to string literals — no
          // pruning, still correct.
          val c: Any =
            try new java.math.BigDecimal(v)
            catch { case _: NumberFormatException => v }
          src -> SnapshotStats.ColStats(c, c)
        }
      case t @ Truncate(src, w) =>
        vals.get(t.partCol).filter(_ != HiveNull).flatMap(_.toLongOption).map { v =>
          src -> SnapshotStats.ColStats(
            new java.math.BigDecimal(v),
            new java.math.BigDecimal(v).add(new java.math.BigDecimal(w - 1)))
        }
      case t @ Day(src) =>
        vals.get(t.partCol).filter(_ != HiveNull).flatMap(_.toLongOption).map { d =>
          // timestamp literals reach the checker as Long MICROS — span the
          // day in the same unit
          src -> SnapshotStats.ColStats(
            new java.math.BigDecimal(d * MicrosPerDay),
            new java.math.BigDecimal((d + 1) * MicrosPerDay - 1))
        }
      case _: Bucket => None
    }.toMap

  /** Top-level AND-ed equality constraints (`attr = lit` / IN-lists) of the
    * optimized condition — the only shapes a hash bucket can refute. */
  private def eqConstraints(e: Expression): Seq[(String, Seq[Literal])] = e match {
    case And(l, r) => eqConstraints(l) ++ eqConstraints(r)
    case EqualTo(a: AttributeReference, l: Literal) => Seq(a.name -> Seq(l))
    case EqualTo(l: Literal, a: AttributeReference) => Seq(a.name -> Seq(l))
    case In(a: AttributeReference, elems) if elems.forall(_.isInstanceOf[Literal]) =>
      Seq(a.name -> elems.map(_.asInstanceOf[Literal]))
    case _ => Seq.empty
  }

  /** Could a file in hash-bucket `vals` hold a row satisfying every
    * equality constraint? Refuted only when a constrained source's literal
    * buckets provably elsewhere. */
  private def bucketMayContain(spec: Seq[Transform], vals: Map[String, String],
      cond: Expression): Boolean = {
    lazy val eqs = eqConstraints(cond)
    spec.forall {
      case t @ Bucket(src, n) =>
        vals.get(t.partCol).filter(_ != HiveNull).flatMap(_.toLongOption) match {
          case None => true
          case Some(fileBucket) =>
            eqs.filter(_._1 == src).forall { case (_, lits) =>
              lits.exists { l =>
                if (l.value == null) true
                else {
                  // the literal's bucket under the WRITE-side function:
                  // murmur3 seed 42 (Spark's `hash`), positive mod
                  val h = Murmur3Hash(Seq(l), 42).eval(null).asInstanceOf[Int]
                  ((h % n) + n) % n == fileBucket
                }
              }
            }
        }
      case _ => true
    }
  }

  /** Could the file at `relToCommit` (its path inside its commit dir),
    * written under `spec` with footer ranges `footer`, hold a row matching
    * `cond`? Its path tuple AND its footer ranges must both admit it; a
    * file without a spec is judged by its footer ranges alone. */
  private[operators] def mayContain(cond: Expression, spec: Seq[Transform],
      relToCommit: String, footer: Map[String, SnapshotStats.ColStats]): Boolean = {
    val vals = partValues(relToCommit)
    // implied tuple ranges take precedence (exact by construction);
    // footer ranges cover the non-partition columns
    SnapshotStats.mayContain(cond, footer ++ impliedStats(spec, vals)) &&
      bucketMayContain(spec, vals, cond)
  }
}
