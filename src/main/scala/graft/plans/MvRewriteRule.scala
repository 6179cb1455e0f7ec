package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.ops.Layout
import graft.sources.{GraftScan, GraftTable}

/** MATERIALIZED-VIEW QUERY REWRITE (the warehouse "aggregate rollup
  * rewrite", Calcite/BigQuery MV style) over graft's incrementally
  * maintained sum views ([[Layout.maintainSumView]]): a registered
  * (base, view) pair lets matching aggregates over the BASE table —
  *
  * {{{ SELECT g, SUM(v), COUNT(*), AVG(v) FROM base [WHERE p(g)] GROUP BY g }}}
  *
  * — re-plan onto the O(groups) VIEW table instead of scanning the
  * base: `SUM(v)` → `SUM(sum_v)`, `COUNT(*)` → `SUM(n)` (coalesced to 0
  * for the global form), `AVG(v)` → `SUM(sum_v)/SUM(n)`, group subsets
  * re-aggregate the mergeable partials, and a predicate on the group
  * key pushes onto the view. At 100 TB this is the difference between
  * a full fact scan and reading a few thousand rollup rows.
  *
  * SOUND BY REFUSAL: the rewrite fires only when
  *  - the scan is the base table's HEAD and the base version the view
  *    reflects (`mvBase`, [[Layout.viewProcessedVersion]]) equals it (a
  *    stale view never answers — checked here per query, with no job);
  *  - every aggregate is one of the mergeable forms above on exactly
  *    the maintained value column (DOUBLE-typed sums — the view stores
  *    double partials);
  *  - grouping is by the maintained key (or global), and any filter
  *    references ONLY the group key.
  * Anything else keeps the original plan. The rewritten plan reads the
  * view snapshot directly, so it can never re-match (no recursion).
  */
object MvRewriteRule {
  /** One maintained rollup: `viewRoot` = sum/count of `valCol` grouped
    * by `groupCol` over `baseRoot` (the [[Layout.maintainSumView]]
    * layout: columns groupCol, sum_v, n, base_version).
    */
  case class MvDef(baseRoot: String, viewRoot: String,
      groupCol: String, valCol: String)

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, MvDef]()

  /** Registry key: the FULLY-QUALIFIED table root (scheme + authority +
    * path via `FileSystem.makeQualified`) — `hdfs://nn/x` and `file:/x`
    * are different tables and must not collide on a scheme-stripped
    * `/x`, especially since this registry is JVM-global across sessions.
    */
  private def norm(root: String): String = {
    val p = new org.apache.hadoop.fs.Path(root)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    p.getFileSystem(conf).makeQualified(p).toString
  }

  def register(baseRoot: String, viewRoot: String,
      groupCol: String, valCol: String): Unit =
    registry.put(norm(baseRoot), MvDef(baseRoot, viewRoot, groupCol, valCol))

  def unregister(baseRoot: String): Unit = registry.remove(norm(baseRoot))

  def clear(): Unit = registry.clear()

  private[plans] def lookup(root: String): Option[MvDef] =
    Option(registry.get(norm(root)))

  private[plans] def isEmpty: Boolean = registry.isEmpty
}

case class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import MvRewriteRule._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvRewriteRule.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** The base-table relation under `p` (through pruning projections and
    * a group-key-only filter), as (mv, headVersion, baseGroupAttr,
    * baseValAttr, filterCond).
    */
  private def baseScanOf(p: LogicalPlan): Option[(MvDef, Int,
      Attribute, Option[Attribute], Option[Expression])] = p match {
    case Project(projs, child) if projs.forall(_.isInstanceOf[Attribute]) =>
      baseScanOf(child)
    case Filter(cond, child) =>
      baseScanOf(child).collect {
        // one filter at most, and only over the group key (checked below)
        case (mv, v, g, va, None) => (mv, v, g, va, Some(cond))
      }
    case r: DataSourceV2ScanRelation =>
      r.scan match {
        case gs: GraftScan => lookup(gs.root).map { mv =>
          (mv, gs.version, attrOf(r.output, mv.groupCol).orNull,
            attrOf(r.output, mv.valCol), None)
        }.filter(_._3 != null)
        case _ => None
      }
    case r: DataSourceV2Relation =>
      r.table match {
        case gt: GraftTable if gt.writable => // head reads only
          lookup(gt.tableRoot).map { mv =>
            val head = Layout.snapshotVersions(spark, gt.tableRoot)
              .lastOption.getOrElse(-1)
            (mv, head, attrOf(r.output, mv.groupCol).orNull,
              attrOf(r.output, mv.valCol), None)
          }.filter(t => t._3 != null && t._2 > 0)
        case _ => None
      }
    case _ => None
  }

  private def attrOf(out: Seq[Attribute], name: String): Option[Attribute] =
    out.find(a => spark.sessionState.conf.resolver(a.name, name))

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (mv, version, baseG, baseV, filterCond) =
      baseScanOf(agg.child).getOrElse(return None)
    // grouping: global, or exactly the maintained key
    val byKey = agg.groupingExpressions match {
      case Nil => false
      case Seq(a: Attribute) if a.exprId == baseG.exprId => true
      case _ => return None
    }
    // a filter may reference ONLY the group key (its predicate then
    // pushes onto the view's key column verbatim) and must be
    // DETERMINISTIC — a predicate like `g > rand()` evaluates once per
    // base ROW in the original plan but once per view GROUP after the
    // rewrite, which changes semantics.
    if (filterCond.exists(c =>
        !c.deterministic || c.references.exists(_.exprId != baseG.exprId)))
      return None
    def isVal(e: Expression): Boolean = e match {
      case a: Attribute => baseV.exists(_.exprId == a.exprId)
      case Cast(a: Attribute, DoubleType, _, _) =>
        baseV.exists(_.exprId == a.exprId)
      case _ => false
    }
    // the view read (fresh exprIds per rewrite); refuse on staleness
    if (Layout.viewProcessedVersion(spark, mv.viewRoot) != version)
      return None
    val viewPlan = Layout.readSnapshot(spark, mv.viewRoot)
      .queryExecution.analyzed
    val vG = attrOf(viewPlan.output, mv.groupCol).getOrElse(return None)
    val vSum = attrOf(viewPlan.output, "sum_v").getOrElse(return None)
    val vN = attrOf(viewPlan.output, "n").getOrElse(return None)
    // nn = COUNT(valCol), the NON-NULL count — required unconditionally:
    // a legacy view without it cannot answer AVG (wrong denominator when
    // the value column holds NULLs) nor SUM (a merged all-NULL group may
    // carry 0.0 instead of NULL), so such views refuse entirely.
    val vNN = attrOf(viewPlan.output, "nn").getOrElse(return None)
    def sumOf(c: Expression) =
      AggregateExpression(Sum(c), Complete, isDistinct = false)
    // translate each output; any untranslatable shape refuses the whole
    // rewrite (never a partial answer)
    val rewritten = agg.aggregateExpressions.map {
      case a: Attribute if a.exprId == baseG.exprId =>
        Alias(vG, a.name)(exprId = a.exprId)
      case al @ Alias(AggregateExpression(Sum(c, _), Complete, false, _, _), _)
          if isVal(c) && al.dataType == DoubleType =>
        // sum_v is NULL iff the group's non-null count is 0 (maintainer
        // invariant), so SUM(sum_v) matches SQL SUM exactly, all-NULL
        // groups included
        Alias(sumOf(vSum), al.name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(Count(Seq(Literal(1, _))),
          Complete, false, _, _), _) =>
        // COUNT is 0 on an empty global aggregate; SUM is null — coalesce
        Alias(Coalesce(Seq(sumOf(vN), Literal(0L, LongType))),
          al.name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(Count(Seq(c)), Complete, false, _, _), _)
          if isVal(c) =>
        // COUNT(v) counts non-null values — the maintained nn partial
        Alias(Coalesce(Seq(sumOf(vNN), Literal(0L, LongType))),
          al.name)(exprId = al.exprId)
      case al @ Alias(AggregateExpression(Average(c, _), Complete, false, _, _), _)
          if isVal(c) && al.dataType == DoubleType =>
        // AVG divides by the NON-NULL count; SUM(nn)=0 → divide-by-zero
        // → NULL, matching AVG over an all-NULL selection
        Alias(Divide(sumOf(vSum), Cast(sumOf(vNN), DoubleType)),
          al.name)(exprId = al.exprId)
      case _ => return None
    }
    val filtered = filterCond match {
      case Some(cond) => Filter(cond.transform {
        case a: Attribute if a.exprId == baseG.exprId => vG
      }, viewPlan)
      case None => viewPlan
    }
    logInfo(s"MV rewrite: aggregate over ${mv.baseRoot} v$version " +
      s"answered from rollup ${mv.viewRoot}")
    Some(Aggregate(if (byKey) Seq(vG) else Nil, rewritten, filtered))
  }
}
