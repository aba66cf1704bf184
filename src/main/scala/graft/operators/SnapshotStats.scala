package graft.operators

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.expressions._

/** R42: manifest-level data skipping for [[SnapshotTable]] — the Delta-style
  * scan lever the manifest log still lacked: per-FILE column (min, max)
  * captured at commit time, so a selective read plans only the files whose
  * range can contain matches, before any executor touches data.
  *
  * Capture is from the parquet FOOTERS of the just-written files (row-group
  * stats folded per column) — metadata-only reads, near-zero cost next to
  * the write itself; no second pass over the data. Stats live in a
  * `stats.json` sidecar inside each commit directory, so they inherit the
  * commit protocol's atomicity for free: invisible until the manifest
  * publishes, immutable after, vacuumed with their files. A missing or
  * unreadable sidecar simply disables skipping for those files.
  *
  * Pruning is BEST-EFFORT AND CONSERVATIVE, the only correct polarity:
  * [[mayContain]] walks the predicate and answers "could this file hold a
  * matching row?" — supported shapes (And/Or/comparisons/In/between over
  * top-level numeric and string columns vs literals) consult the ranges;
  * anything else — unsupported expression forms, columns without stats,
  * incomparable types — answers TRUE. The residual filter is always applied
  * to the scanned files, so skipping can only remove provably-empty work,
  * never rows. At 100 TB this is the difference between "scan the table"
  * and "scan the three files the range intersects" — PROVIDED the layout
  * clusters the predicate columns, which is exactly what R41's z-order
  * OPTIMIZE produces: fragment-then-optimize turns a no-file-skipped table
  * into a nearly-all-files-skipped one with identical content.
  */
object SnapshotStats {

  /** Comparable per-column range: `java.math.BigDecimal` for numerics,
    * `String` for UTF-8 strings. */
  final case class ColStats(min: Any, max: Any)

  // ------------------------------------------------------------ capture

  /** The one Hadoop conf of every driver-side footer read (stats capture
    * here, the schema read in [[SnapshotTable.read]]): a fresh
    * `Configuration` re-parses its default resources, once per file. */
  private[operators] lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** Fold one parquet file's row-group footer stats into per-column
    * (min, max). Only top-level plain INT32/INT64/FLOAT/DOUBLE and UTF-8
    * BINARY columns participate; a column with any stats-less or
    * unsupported-type row group is dropped (conservative). */
  def fileStats(path: String): Map[String, ColStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), hadoopConf))
    try {
      val ranges = scala.collection.mutable.Map.empty[String, ColStats]
      val dropped = scala.collection.mutable.Set.empty[String]
      for (b <- reader.getFooter.getBlocks.asScala; c <- b.getColumns.asScala) {
        val parts = c.getPath.toArray
        if (parts.length == 1) {
          val name = parts(0)
          val pt = c.getPrimitiveType
          val ann = pt.getLogicalTypeAnnotation
          val isString = pt.getPrimitiveTypeName == BINARY &&
            ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          // plain numerics only: timestamp/decimal-annotated ints encode
          // values a literal comparison would mis-rank
          val isPlainNum =
            Set(INT32, INT64, FLOAT, DOUBLE).contains(pt.getPrimitiveTypeName) &&
              (ann == null || ann.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation])
          val st = c.getStatistics
          if (st == null || st.isEmpty || !(isString || isPlainNum)) dropped += name
          else if (st.hasNonNullValue) {
            // ±Infinity footer min/max (a double column holding a division
            // overflow) has no BigDecimal form: drop just THIS column —
            // throwing here would void the sidecar for the whole commit
            val pair: Option[(Any, Any)] =
              if (isString)
                Some((st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                  st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8))
              else
                try Some((new java.math.BigDecimal(st.genericGetMin.toString),
                  new java.math.BigDecimal(st.genericGetMax.toString)))
                catch { case _: NumberFormatException => None }
            pair match {
              case None => dropped += name
              case Some((mn, mx)) =>
                ranges.get(name) match {
                  case None => ranges(name) = ColStats(mn, mx)
                  case Some(cur) =>
                    ranges(name) = ColStats(
                      if (cmpVals(mn, cur.min).exists(_ < 0)) mn else cur.min,
                      if (cmpVals(mx, cur.max).exists(_ > 0)) mx else cur.max)
                }
            }
          } // all-null row group: contributes no range, other groups may
        }
      }
      (ranges -- dropped).toMap
    } finally reader.close()
  }

  /** Write the `stats.json` sidecar for a commit directory. */
  def write(commitDir: Path, perFile: Seq[(String, Map[String, ColStats])]): Unit = {
    val root = new java.util.LinkedHashMap[String, Object]()
    for ((file, cols) <- perFile) {
      val fm = new java.util.LinkedHashMap[String, Object]()
      for ((c, st) <- cols.toSeq.sortBy(_._1)) {
        val cm = new java.util.LinkedHashMap[String, Object]()
        cm.put("min", st.min.asInstanceOf[Object])
        cm.put("max", st.max.asInstanceOf[Object])
        fm.put(c, cm)
      }
      root.put(file, fm)
    }
    new ObjectMapper().writeValue(commitDir.resolve("stats.json").toFile, root)
  }

  /** Load a sidecar: file name → column ranges. Missing/corrupt → empty
    * (skipping disabled for that commit's files, reads stay correct). */
  def load(statsPath: Path): Map[String, Map[String, ColStats]] = {
    if (!Files.isRegularFile(statsPath)) return Map.empty
    try {
      val root = new ObjectMapper().readTree(statsPath.toFile)
      root.fields().asScala.map { e =>
        val cols = e.getValue.fields().asScala.map { ce =>
          val v = ce.getValue
          def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
            if (n.isNumber) n.decimalValue() else n.asText()
          ce.getKey -> ColStats(conv(v.get("min")), conv(v.get("max")))
        }.toMap
        e.getKey -> cols
      }.toMap
    } catch { case _: Exception => Map.empty }
  }

  // ------------------------------------------------------------ pruning

  /** Stat value vs literal value, when comparable: numerics via BigDecimal
    * (exact — a double compare could mis-prune longs past 2^53), strings by
    * UNSIGNED UTF-8 BYTE order — the order parquet computed the footer
    * min/max in. Java `String.compareTo` (UTF-16 code-unit order) disagrees
    * with it for supplementary-plane characters vs U+E000–U+FFFF, which
    * would mis-prune; comparing the encoded bytes matches the stats'
    * ordering exactly. */
  private def cmpVals(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => Some(x.compareTo(y))
    case (x: String, y: String) =>
      Some(java.util.Arrays.compareUnsigned(
        x.getBytes("UTF-8"), y.getBytes("UTF-8")))
    case _ => None
  }

  /** NaN/Infinity have no BigDecimal form — and no meaningful place in a
    * min/max range either (parquet excludes NaN from stats); map them to
    * incomparable, which every caller treats as "cannot prune". */
  private def numToDecimal(n: Number): Option[java.math.BigDecimal] = n match {
    case d: java.lang.Double if d.isNaN || d.isInfinite => None
    case f: java.lang.Float if f.isNaN || f.isInfinite => None
    case _ => Some(new java.math.BigDecimal(n.toString))
  }

  private def litValue(l: Literal): Option[Any] = l.value match {
    case null => None
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
              _: java.lang.Long | _: java.lang.Float | _: java.lang.Double) =>
      numToDecimal(n.asInstanceOf[Number])
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case _ => None
  }

  /** Comparable rendering of a driver-side runtime value (R43's collected
    * change keys): BigDecimal for numerics, String for strings. */
  def toComparable(v: Any): Option[Any] = v match {
    case null => None
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
              _: java.lang.Long | _: java.lang.Float | _: java.lang.Double) =>
      numToDecimal(n.asInstanceOf[Number])
    case d: java.math.BigDecimal => Some(d)
    case d: scala.math.BigDecimal => Some(d.bigDecimal)
    case s: String => Some(s)
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case _ => None
  }

  /** Could a file whose column spans `st` hold ANY of `vals`? Conservative:
    * an incomparable value answers yes. */
  def rangeContainsAny(st: ColStats, vals: Iterable[Any]): Boolean =
    vals.exists { v =>
      toComparable(v) match {
        case Some(c) =>
          (for (a <- cmpVals(c, st.min); b <- cmpVals(c, st.max))
            yield a >= 0 && b <= 0).getOrElse(true)
        case None => true
      }
    }

  /** Could a file whose column spans `st` hold ANY value in `[lo, hi]`? —
    * interval overlap, O(1) per file where [[rangeContainsAny]] is O(keys).
    * The wide-changeset MERGE pruning shape: when the distinct change-key
    * set is too large to collect, its extrema (one distributed agg, two
    * values on the driver) still exclude every file whose range lies
    * wholly outside the changeset's span. Conservative: an incomparable
    * bound answers yes. */
  def rangeOverlaps(st: ColStats, lo: Any, hi: Any): Boolean = {
    val r = for {
      l <- toComparable(lo)
      h <- toComparable(hi)
      a <- cmpVals(l, st.max) // changeset min <= file max
      b <- cmpVals(h, st.min) // changeset max >= file min
    } yield a <= 0 && b >= 0
    r.getOrElse(true)
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
    case _ => None
  }

  /** Spark 4's Column DSL converts to `UnresolvedFunction` nodes (the
    * ColumnNode path), not the typed comparison classes — match both. */
  private object Fn {
    def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        Some((f.nameParts.last.toLowerCase(java.util.Locale.ROOT), f.arguments))
      case _ => None
    }
  }

  /** Could a file with `stats` contain a row matching `pred`? TRUE unless
    * the ranges prove otherwise. */
  def mayContain(pred: Expression, stats: Map[String, ColStats]): Boolean = {
    // leaf check: attr-vs-literal with the comparison seen from the ATTR side
    def leaf(attr: Expression, lit: Literal,
        test: (ColStats, Any) => Option[Boolean]): Boolean = {
      val r = for {
        name <- attrName(attr)
        st <- stats.get(name)
        v <- litValue(lit)
        t <- test(st, v)
      } yield t
      r.getOrElse(true)
    }
    def geMin(st: ColStats, v: Any) = cmpVals(v, st.min).map(_ >= 0) // v >= min
    def gtMin(st: ColStats, v: Any) = cmpVals(v, st.min).map(_ > 0)
    def leMax(st: ColStats, v: Any) = cmpVals(v, st.max).map(_ <= 0) // v <= max
    def ltMax(st: ColStats, v: Any) = cmpVals(v, st.max).map(_ < 0)
    def within(st: ColStats, v: Any) =
      for (a <- geMin(st, v); b <- leMax(st, v)) yield a && b
    pred match {
      case And(l, r) => mayContain(l, stats) && mayContain(r, stats)
      case Or(l, r) => mayContain(l, stats) || mayContain(r, stats)
      case Fn("and", Seq(l, r)) => mayContain(l, stats) && mayContain(r, stats)
      case Fn("or", Seq(l, r)) => mayContain(l, stats) || mayContain(r, stats)
      case EqualTo(a, l: Literal) => leaf(a, l, within)
      case EqualTo(l: Literal, a) => leaf(a, l, within)
      case Fn("=" | "==" | "equal_to", Seq(a, l: Literal)) => leaf(a, l, within)
      case Fn("=" | "==" | "equal_to", Seq(l: Literal, a)) => leaf(a, l, within)
      case GreaterThan(a, l: Literal) => leaf(a, l, ltMax) // ∃ x > v ⟺ v < max
      case GreaterThan(l: Literal, a) => leaf(a, l, gtMin) // v > x ⟺ v > min
      case Fn(">", Seq(a, l: Literal)) => leaf(a, l, ltMax)
      case Fn(">", Seq(l: Literal, a)) => leaf(a, l, gtMin)
      case GreaterThanOrEqual(a, l: Literal) => leaf(a, l, leMax)
      case GreaterThanOrEqual(l: Literal, a) => leaf(a, l, geMin)
      case Fn(">=", Seq(a, l: Literal)) => leaf(a, l, leMax)
      case Fn(">=", Seq(l: Literal, a)) => leaf(a, l, geMin)
      case LessThan(a, l: Literal) => leaf(a, l, gtMin)
      case LessThan(l: Literal, a) => leaf(a, l, ltMax)
      case Fn("<", Seq(a, l: Literal)) => leaf(a, l, gtMin)
      case Fn("<", Seq(l: Literal, a)) => leaf(a, l, ltMax)
      case LessThanOrEqual(a, l: Literal) => leaf(a, l, geMin)
      case LessThanOrEqual(l: Literal, a) => leaf(a, l, leMax)
      case Fn("<=", Seq(a, l: Literal)) => leaf(a, l, geMin)
      case Fn("<=", Seq(l: Literal, a)) => leaf(a, l, leMax)
      case In(a, elems) if elems.forall(_.isInstanceOf[Literal]) =>
        elems.exists(e => leaf(a, e.asInstanceOf[Literal], within))
      // the optimizer rewrites IN lists past inSetConversionThreshold
      // (default 10) into InSet with RAW internal values — without this
      // case a wide point-probe (W33's term variants) skips nothing
      case s: InSet =>
        (for {
          name <- attrName(s.child)
          st <- stats.get(name)
        } yield rangeContainsAny(st, s.hset)).getOrElse(true)
      case Fn("in", a +: elems) if elems.nonEmpty && elems.forall(_.isInstanceOf[Literal]) =>
        elems.exists(e => leaf(a, e.asInstanceOf[Literal], within))
      case _ => true // an unmatched predicate never skips a file
    }
  }
}
