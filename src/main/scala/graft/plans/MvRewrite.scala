package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** R45: materialized-view auto-rewrite — a Catalyst optimizer rule that
  * answers eligible aggregates over a REGISTERED base table from its
  * pre-aggregated rollup instead, without the query author changing a line
  * (the Calcite/BigQuery/Snowflake MV-rewrite idea, Spark-native).
  *
  * A rollup maintained by X14 ([[graft.operators.SnapshotIvm]]) holds one
  * row per group: the group keys, `n` (live row count) and `sum_<c>` per
  * tracked column. Any aggregate that groups by a SUBSET of the MV's keys
  * and computes sums/counts over tracked columns is answerable by
  * RE-aggregating the rollup — sum(x) = sum(sum_x), count( * ) = sum(n) —
  * a |groups|-row scan instead of a |base|-row scan. [[MvRewriteRule]]
  * performs exactly that substitution on the logical plan:
  *
  *   Aggregate(G, aggs, [Project/Filter](BaseScan))
  *     → Aggregate(G', aggs', [Filter'](MvScan))
  *
  * Eligibility (conservative — anything else leaves the plan untouched):
  *   - the scan's files all live under a registered base root;
  *   - grouping expressions are plain columns among the MV's group keys;
  *   - filters (already pushed toward the scan by earlier batches)
  *     reference only group keys — they survive, remapped onto the MV;
  *   - aggregates are non-distinct, unfiltered `sum` over tracked columns,
  *     `count( * )`/`count(1)`, or `avg` over tracked (integral) columns —
  *     rewritten as sum(sum_x)/sum(n). The rewritten avg divides an EXACT
  *     long sum; Spark's own Average accumulates integral input in a
  *     DOUBLE, so the two can differ in the last ulp once the group's sum
  *     passes 2^53 — but in that regime the unrewritten plan is itself
  *     partition-order-dependent (double accumulation), so the rewrite is
  *     the more deterministic of the two, not a deviation from a stable
  *     answer. Decimal avg is excluded outright (decimal-domain division
  *     vs double division differ within ordinary ranges); plus the
  *     grouping columns themselves.
  *
  * The rewritten node keeps the ORIGINAL output attribute ids (each output
  * is re-aliased under the old exprId), so parent operators — joins,
  * sorts, further projections — bind unchanged. Counts re-aggregate with
  * `coalesce(sum(n), 0)` so a global count over an empty base stays 0, not
  * null; sums cast back to the original result type (re-aggregated decimal
  * sums widen precision).
  *
  * CORRECTNESS of a rewrite requires the MV to be CURRENT for its base —
  * the registrar's contract. [[MvRegistry.register]] pairs a base root with
  * a thunk producing the rollup frame; registering the X14 refresh output
  * (a pinned snapshot version) right after [[graft.operators.SnapshotIvm
  * .refresh]] gives an exact, durable pairing — and because the thunk pins
  * a version, a base commit AFTER registration can never tear the pair
  * (the rewrite answers as of the registered version; re-register after
  * the next refresh to advance).
  *
  * Scale shape: this is the 100 TB dashboard lever — the rollup is
  * |distinct groups| rows, so the rewritten aggregate runs in milliseconds
  * against a frame that fits in one executor, while the unrewritten query
  * would rescan the base. Wire-up: `MvRewriteRule.attach(spark)` for an
  * existing session (`spark.experimental.extraOptimizations`), or session
  * construction with [[graft.GraftExtensions]] which injects the rule into
  * the operator-optimization fixed point (where the MV scan also gets its
  * own pushdown/pruning passes).
  */
object MvRegistry {

  final case class MvDef(baseRoot: String, files: Set[String],
    mv: () => LogicalPlan, groupCols: Seq[String], sumCols: Seq[String])

  @volatile private var defs: List[MvDef] = Nil

  /** Register `mv` (a thunk producing the rollup frame — called once per
    * rewrite so each use gets fresh attribute ids) as answering aggregates
    * over files under `baseRoot`. For a VERSIONED base (a snapshot table),
    * pass `exactFiles` = the file list of the version the MV reflects: the
    * rule then rewrites only scans of exactly those files, so a
    * time-travel read of an OLDER version — whose files also live under
    * the root — falls through to its own scan instead of being silently
    * answered with the newer version's rollup. An empty `exactFiles`
    * keeps prefix-only matching (directory scans have no versions to
    * confuse). */
  def register(baseRoot: String, mv: () => org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], sumCols: Seq[String],
      exactFiles: Seq[String] = Nil): Unit = {
    val root = normalize(baseRoot)
    val d = MvDef(root, exactFiles.map(stripScheme).toSet,
      () => mv().queryExecution.analyzed, groupCols, sumCols)
    synchronized { defs = d :: defs.filterNot(_.baseRoot == root) }
  }

  def clear(): Unit = synchronized { defs = Nil }

  def isEmpty: Boolean = defs.isEmpty

  private[plans] def lookup(paths: Seq[String]): Option[MvDef] = {
    val ps = paths.map(stripScheme)
    defs.find { d =>
      // the scanned root may BE the registered dir (no trailing slash) or
      // a file/dir beneath it (the slash-suffixed prefix)
      val rootItself = d.baseRoot.dropRight(1)
      ps.nonEmpty &&
        ps.forall(p => p == rootItself || p.startsWith(d.baseRoot)) &&
        (d.files.isEmpty || ps.forall(d.files.contains))
    }
  }

  /** Scheme-insensitive forms: `file:/x/y` and `/x/y` must meet. Roots get
    * a trailing slash (prefix checks), file paths stay verbatim. */
  private def stripScheme(p: String): String =
    p.replaceFirst("^[a-zA-Z0-9+.-]+:(//)?", "")

  private def normalize(p: String): String = {
    val noScheme = stripScheme(p)
    if (noScheme.endsWith("/")) noScheme else noScheme + "/"
  }
}

case class MvRewriteRule() extends Rule[LogicalPlan] {
  import MvRegistry._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate => rewrite(agg).getOrElse(agg)
  }

  private def scanPaths(plan: LogicalPlan): Seq[String] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    }
    case _ => Seq.empty
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = agg.child match {
    case PhysicalOperation(projects, filters, relation: LogicalRelation) =>
      for {
        mvDef <- lookup(scanPaths(relation))
        // projections must be pure column selections — a computed alias
        // under the aggregate is beyond the rollup's vocabulary
        _ <- if (projects.forall(_.isInstanceOf[AttributeReference])) Some(())
             else None
        groupNames <- names(agg.groupingExpressions, mvDef.groupCols)
        // filters may only constrain group keys (they commute with the
        // group-by and survive on the MV); anything else blocks
        _ <- if (filters.flatMap(_.references.toSeq.map(_.name))
                   .forall(mvDef.groupCols.contains)) Some(())
             else None
        // a broken registration (MV dropped, path vacuumed, schema drift)
        // must degrade to "no rewrite", never break the query
        plan <- try build(agg, filters, mvDef)
                catch { case _: Exception => None }
      } yield plan
    case _ => None
  }

  private def names(exprs: Seq[Expression], allowed: Seq[String]): Option[Seq[String]] = {
    val ns = exprs.map {
      case a: AttributeReference if allowed.contains(a.name) => Some(a.name)
      case _ => None
    }
    if (ns.forall(_.isDefined)) Some(ns.flatten) else None
  }

  private def build(agg: Aggregate, filters: Seq[Expression],
      mvDef: MvDef): Option[LogicalPlan] = {
    val mvPlan = mvDef.mv()
    def mvAttr(name: String): Attribute = mvPlan.output.find(_.name == name).get
    def sumOf(c: String): Option[Attribute] =
      if (mvDef.sumCols.contains(c)) mvPlan.output.find(_.name == s"sum_$c")
      else None
    val n = mvPlan.output.find(_.name == "n").getOrElse(return None)

    def reagg(f: AggregateFunction): Option[Expression] = f match {
      case Sum(a: AttributeReference, _) =>
        sumOf(a.name).map(s => Sum(s).toAggregateExpression())
      case Count(Seq(Literal(_, _))) | Count(Nil) =>
        Some(Coalesce(Seq(Sum(n).toAggregateExpression(), Literal(0L))))
      // decimal avg excluded: the original divides in the decimal domain,
      // this re-derivation in doubles — last-digit rounding could differ
      case Average(a: AttributeReference, _)
          if !a.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
        sumOf(a.name).map(s => Divide(
          Cast(Sum(s).toAggregateExpression(), org.apache.spark.sql.types.DoubleType),
          Cast(Sum(n).toAggregateExpression(), org.apache.spark.sql.types.DoubleType)))
      case _ => None
    }

    val rewritten: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if mvDef.groupCols.contains(a.name) =>
        Some(Alias(mvAttr(a.name), a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, nm) if mvDef.groupCols.contains(a.name) =>
        Some(Alias(mvAttr(a.name), nm)(exprId = al.exprId))
      case al @ Alias(ae: AggregateExpression, nm)
          if !ae.isDistinct && ae.filter.isEmpty =>
        reagg(ae.aggregateFunction).map(e =>
          Alias(Cast(e, al.dataType), nm)(exprId = al.exprId))
      case _ => None
    }
    if (rewritten.exists(_.isEmpty)) return None

    val newGrouping = agg.groupingExpressions.map {
      case a: AttributeReference => mvAttr(a.name)
    }
    val mvFiltered =
      if (filters.isEmpty) mvPlan
      else Filter(filters.reduce(And).transform {
        case a: AttributeReference => mvAttr(a.name)
      }, mvPlan)
    Some(Aggregate(newGrouping, rewritten.flatten, mvFiltered))
  }
}

object MvRewriteRule {
  /** Idempotently add the rule to an EXISTING session's optimizer (the
    * extension-free path; `GraftExtensions` wires it at construction). */
  def attach(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[MvRewriteRule]))
      spark.experimental.extraOptimizations = cur :+ MvRewriteRule()
  }
}
