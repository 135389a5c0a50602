package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Optimizer rule: answer an aggregate over a graft store FROM ITS
  * REGISTERED MATERIALIZED VIEW (SURVEY §2 rows 84/188 made a planner
  * citizen — the Calcite/Databricks MV-substitution idiom). A user
  * writing the natural form —
  *
  *   SELECT trunc(odate,'month') m, count(*), sum(price)
  *   FROM graft.`/stores/orders` GROUP BY 1
  *
  * scans the full base table: at 100 TB that is the whole store read
  * to produce a months-sized answer the feed-maintained view
  * ([[graft.streaming.FeedView]]) already holds in KBs. When a view is
  * registered for the store ([[MatViews.register]] — persisted under
  * the TABLE's `_views` metadata, so any session's reads arm) AND the
  * query's bound version equals the version the view reflects, this
  * rule replaces the aggregate with one over the view — including
  * ROLLUPS to coarser grains (yearly from a monthly view
  * re-aggregates ~12 rows per year) and grain-determined filters (a
  * predicate on the month commutes with the monthly grouping, so it
  * moves to the view).
  *
  * Matched shape: Aggregate over a chain of deterministic
  * Project/Filter nodes over an UNPINNED DataSourceV2 read of the
  * registered store. Rewritable pieces, after inlining the projects:
  *   - every group expression must reduce, by substituting registered
  *     grain expressions with view grain columns, to an expression
  *     over view columns alone (grouping by year(month) over a
  *     monthly view is a FUNCTION of the grain — sound);
  *   - every filter conjunct must reduce likewise (grain-determined
  *     predicates commute with grouping; anything touching a non-grain
  *     column bails);
  *   - every aggregate call must be non-DISTINCT and unfiltered, one
  *     of: count(non-null constant) → sum(view count column);
  *     sum(x) with x a registered sum operand → sum(view sum column)
  *     cast back to the original result type; count(x) with x a
  *     registered counts operand → sum(view non-null-count column);
  *     avg(x) with BOTH a sum and a counts binding for x →
  *     sum(sums)/sum(counts), built with the same division/overflow
  *     expressions [[Average.evaluateExpression]] uses so decimal
  *     results are bit-identical. count(NULL literal) refuses (COUNT
  *     skips nulls — the right answer is 0, not the row count);
  *     min(x)/max(x) with a registered mins/maxs binding →
  *     min/max(view extremum column) — sound because the MAINTAINER
  *     owns delete repair (dirty-group recompute, the registration
  *     contract); an unregistered extremum operand still refuses.
  *
  * Everything else — stale view (source committed past it),
  * version-pinned reads, unmatched expressions — leaves the plan
  * untouched: the rewrite is an optimization, never a correctness
  * dependency, and freshness is checked against the version the read
  * ALREADY bound (no extra IO beyond one registration-file probe in
  * the optimizer's hot path). Output attributes keep their original
  * exprIds, so parents of the aggregate are unaffected. The rewritten
  * plan contains no graft relation, which makes the rule
  * self-terminating under the optimizer's fixed point. */
object MatViewRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** Walk the aggregate's child chain of deterministic Project/Filter
    * nodes down to a DSv2 relation, composing a substitution that
    * re-expresses any expression above in terms of the RELATION's
    * output, and collecting filter conjuncts (likewise re-expressed). */
  private def collectBase(child: LogicalPlan)
      : Option[(DataSourceV2Relation, Map[ExprId, Expression], Seq[Expression])] = {
    var node = child
    var subst = Map.empty[ExprId, Expression]
    val filters = ArrayBuffer.empty[Expression]
    def applyLocal(local: Map[ExprId, Expression], e: Expression): Expression =
      e.transformUp { case a: AttributeReference => local.getOrElse(a.exprId, a) }
    while (true) {
      node match {
        case Project(list, c) if list.forall(_.deterministic) =>
          val local: Map[ExprId, Expression] = list.map {
            case al @ Alias(e, _)      => al.exprId -> e
            case a: AttributeReference => a.exprId -> (a: Expression)
            case _                     => return None
          }.toMap
          subst = subst.map { case (k, v) => k -> applyLocal(local, v) } ++
            local.filterNot { case (k, _) => subst.contains(k) }
          for (i <- filters.indices) filters(i) = applyLocal(local, filters(i))
          node = c
        case Filter(cond, c) if cond.deterministic =>
          filters ++= splitConjuncts(cond)
          node = c
        case r: DataSourceV2Relation =>
          val inline = (e: Expression) =>
            e.transformUp { case a: AttributeReference => subst.getOrElse(a.exprId, a) }
          return Some((r, subst, filters.toSeq.map(inline)))
        case _ => return None
      }
    }
    None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other     => Seq(other)
  }

  /** Why a candidate did not rewrite — optimizer-rule diagnostics at
    * debug level (the rule is best-effort, so "didn't fire" must be
    * explainable without instrumenting production code). */
  private def trace(msg: => String): Unit = logDebug(s"mat-view rewrite: $msg")

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (rel, subst, filters) = collectBase(agg.child).getOrElse {
      trace(s"no base under:\n${agg.child.treeString}"); return None }
    val table = rel.table match {
      case t: graft.sources.GraftTable => t
      case _                           => trace("not a graft table"); return None
    }
    val (path, version) = table.liveReadPoint.getOrElse {
      trace("pinned read"); return None }
    val spark = SparkSession.active
    // FAULT ISOLATION: everything below runs inside the optimizer, so
    // no registration problem — an unreadable _views file, a binding
    // that no longer resolves after a schema evolution, a view parquet
    // dir deleted out from under its registration — may ever break the
    // query. Each candidate resolves under a NonFatal guard and a
    // failure skips it (finally falling through to the base read);
    // binding SQL re-analysis is deferred past the freshness check
    // (Binding.norm is lazy), so a STALE registration — the normal
    // state right after an evolution renamed its columns — is never
    // resolved at all.
    val candidates =
      try MatViews.lookupAll(spark, path)
      catch {
        case scala.util.control.NonFatal(e) =>
          trace(s"registration lookup failed for $path (base read): $e"); Nil
      }
    if (candidates.isEmpty) { trace(s"no view for $path"); return None }
    val serving = candidates.flatMap { d =>
      if (d.asOfVersion != version) {
        trace(s"stale: view '${d.name}'@${d.asOfVersion} read@$version"); None
      } else {
        try rewriteWith(spark, agg, rel, subst, filters, d).map(d -> _)
        catch {
          case scala.util.control.NonFatal(e) =>
            trace(s"candidate '${d.name}' failed to resolve (skipped): $e"); None
        }
      }
    }
    // COST-AWARE choice among several servers: a yearly rollup is
    // answerable from both a daily and a monthly view, but the coarser
    // one re-aggregates ~30× fewer rows — at a 100 TB table with a
    // years-long daily view the difference is real work. The view's
    // on-disk size is the cost proxy (one getContentSummary per
    // serving candidate, and only when MORE than one serves — the
    // common single-view path stays one-getFileStatus-per-query);
    // name breaks ties deterministically.
    serving match {
      case Seq()          => None
      case Seq((_, p))    => Some(p)
      case several        =>
        Some(several.minBy { case (d, _) => (viewBytes(spark, d.viewPath), d.name) }._2)
    }
  }

  /** On-disk size of a view's data — the cost key for choosing among
    * several serving candidates. Unreadable → worst (chosen last). */
  private def viewBytes(spark: SparkSession, viewPath: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(viewPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  private def rewriteWith(spark: SparkSession, agg: Aggregate,
                          rel: DataSourceV2Relation,
                          subst: Map[ExprId, Expression],
                          filters: Seq[Expression],
                          d: MatViews.MatViewDef): Option[LogicalPlan] = {
    // cached per view dir and mtime; fresh exprIds per occurrence
    val viewPlan = graft.sources.Sinks.cachedParquetRead(spark, d.viewPath)
      .queryExecution.analyzed match {
        case r: MultiInstanceRelation => r.newInstance()
        case p                        => p
      }
    val viewAttr: Map[String, Attribute] =
      viewPlan.output.map(a => a.name.toLowerCase(java.util.Locale.ROOT) -> a).toMap
    // every registered column must exist in the view as stored
    val needed =
      (d.groups ++ d.sums ++ d.counts ++ d.mins ++ d.maxs).map(_.viewCol) ++
        d.countCol.toSeq
    if (!needed.forall(viewAttr.contains)) return None

    val groupByNorm: Map[Expression, Attribute] = d.groups.flatMap {
      b => viewAttr.get(b.viewCol).map(b.norm -> _) }.toMap
    val sumByNorm: Map[Expression, Attribute] = d.sums.flatMap {
      b => viewAttr.get(b.viewCol).map(b.norm -> _) }.toMap
    val cntByNorm: Map[Expression, Attribute] = d.counts.flatMap {
      b => viewAttr.get(b.viewCol).map(b.norm -> _) }.toMap
    val minByNorm: Map[Expression, Attribute] = d.mins.flatMap {
      b => viewAttr.get(b.viewCol).map(b.norm -> _) }.toMap
    val maxByNorm: Map[Expression, Attribute] = d.maxs.flatMap {
      b => viewAttr.get(b.viewCol).map(b.norm -> _) }.toMap
    val baseRefs = rel.outputSet

    val inline = (e: Expression) =>
      e.transformUp { case a: AttributeReference => subst.getOrElse(a.exprId, a) }

    /** Substitute registered grain expressions with view grain
      * columns — explicit recursion, NOT transformDown, so a
      * replacement is never re-visited (its children are view
      * attributes by construction). */
    def substGrain(e: Expression): Expression =
      groupByNorm.get(MatViews.normalize(e)) match {
        case Some(attr) => attr
        case None       => e.mapChildren(substGrain)
      }

    /** Succeeds iff nothing of the base relation remains. */
    def toView(e: Expression): Option[Expression] = {
      val replaced = substGrain(e)
      if (replaced.references.exists(baseRefs.contains)) None else Some(replaced)
    }

    def sumOf(a: Attribute): Expression = Sum(a).toAggregateExpression()

    /** One aggregate call rewritten against the view, or None. */
    def rewriteCall(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      ae.aggregateFunction match {
        // count(*)/count(1): every live row counts — but a foldable
        // NULL does NOT (COUNT skips nulls; the base answer is 0), so
        // the guard requires non-null evaluation, not just foldability
        case c: Count if c.children.forall(ch => ch.foldable && ch.eval() != null) =>
          d.countCol.flatMap(viewAttr.get).map { nc =>
            // count is non-null long; sum over an empty (global) view
            // is null — fold it back to count's zero
            Coalesce(Seq(Cast(sumOf(nc), LongType), Literal(0L)))
          }
        // count(x): the per-group NON-NULL operand count is maintained
        // as its own view column — summing it is exact under deletes
        // and all-null groups
        case c: Count if c.children.size == 1 =>
          cntByNorm.get(MatViews.normalize(c.children.head)).map { vc =>
            Coalesce(Seq(Cast(sumOf(vc), LongType), Literal(0L)))
          }
        case s: Sum =>
          sumByNorm.get(MatViews.normalize(s.child)).map { vc =>
            Cast(sumOf(vc), ae.dataType)
          }
        // avg(x) = sum(view sums)/sum(view non-null counts) — exact
        // when both bindings exist, deletes and all-null groups
        // included, because the view's sum column is NULL exactly when
        // its count column is 0 (the registration contract). The
        // division is built with the SAME expressions Average's own
        // evaluateExpression uses, at the same operand types, so
        // decimal results are bit-identical to the base aggregate.
        case a: Average =>
          val norm = MatViews.normalize(a.child)
          (sumByNorm.get(norm), cntByNorm.get(norm)) match {
            case (Some(sumVc), Some(cntVc)) =>
              val cnt = sumOf(cntVc)
              a.child.dataType match {
                // decimal avg: the division runs AT the original
                // result type (DecimalDivideWithOverflowCheck rounds
                // the exact rational once, at resultType's scale), so
                // any view sum column holding the EXACT sum at the
                // operand's scale is bit-exact — the operand's own
                // type (FeedView's layout) or the wider Sum result
                // type (CREATE MATERIALIZED VIEW's layout) alike
                case dt: DecimalType if (sumVc.dataType match {
                    case s: DecimalType => s.scale == dt.scale
                    case _              => false
                  }) =>
                  val resultType = ae.dataType.asInstanceOf[DecimalType]
                  Some(If(EqualTo(cnt, Literal(0L)),
                    Literal(null, resultType),
                    DecimalDivideWithOverflowCheck(
                      sumOf(sumVc), Cast(cnt, DecimalType(20, 0)),
                      resultType, null, a.evalMode != EvalMode.ANSI)))
                // non-decimal numerics average in DoubleType; the view
                // sum is the EXACT per-group sum, so the division here
                // is at least as precise as the base's double fold
                case ByteType | ShortType | IntegerType | LongType |
                     DoubleType | FloatType =>
                  Some(Divide(Cast(sumOf(sumVc), DoubleType),
                    Cast(cnt, DoubleType), EvalMode.LEGACY))
                case _ => None
              }
            case _ => None
          }
        // min(x)/max(x): MIN of per-group minima IS the coarser min
        // (idempotent, order-insensitive), so a registered extremum
        // column serves any rollup. Deletes are the maintainer's
        // problem (dirty-group recompute — the registration contract),
        // not the rewrite's. Types must match exactly: the view stores
        // the operand's own type, and a silently-cast extremum would
        // change overflow/precision behavior.
        case m: Min =>
          minByNorm.get(MatViews.normalize(m.child))
            .filter(_.dataType == ae.dataType)
            .map(vc => Min(vc).toAggregateExpression())
        case m: Max =>
          maxByNorm.get(MatViews.normalize(m.child))
            .filter(_.dataType == ae.dataType)
            .map(vc => Max(vc).toAggregateExpression())
        case _ => None
      }
    }

    // group expressions: inline, then reduce to view columns
    val newGroups = agg.groupingExpressions.map { g =>
      toView(inline(g)).getOrElse {
        trace(s"group not grain-derivable: ${inline(g)} (norm ${MatViews.normalize(inline(g))} " +
          s"vs keys ${groupByNorm.keys.mkString("; ")})"); return None }
    }
    // filter conjuncts must be grain-determined
    val newFilters = filters.map { f => toView(f).getOrElse {
      trace(s"filter not grain-determined: $f"); return None } }
    // output expressions: aggregate calls via rewriteCall, everything
    // else via grain substitution; original names and exprIds kept so
    // parents of the aggregate bind unchanged
    val newAggList: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      var ok = true
      // explicit recursion: a rewritten aggregate call contains a NEW
      // Sum over a view column — descending into it would re-match the
      // AggregateExpression case and wrongly refuse
      def rw(e: Expression): Expression = e match {
        case ae: AggregateExpression =>
          rewriteCall(ae) match {
            case Some(r) => r
            case None    => ok = false; ae
          }
        case sub if groupByNorm.contains(MatViews.normalize(sub)) =>
          groupByNorm(MatViews.normalize(sub))
        case other => other.mapChildren(rw)
      }
      val rewritten = rw(inline(ne))
      if (!ok || rewritten.references.exists(baseRefs.contains)) {
        trace(s"agg expr not derivable: $ne -> $rewritten (ok=$ok)"); return None }
      if (rewritten.dataType != ne.dataType) {
        trace(s"type mismatch: ${rewritten.dataType} vs ${ne.dataType} for $ne"); return None }
      Alias(rewritten match {
        case Alias(e, _) => e
        case e           => e
      }, ne.name)(exprId = ne.exprId)
    }

    val filteredView =
      newFilters.reduceOption(And).map(Filter(_, viewPlan)).getOrElse(viewPlan)
    Some(Aggregate(newGroups, newAggList, filteredView))
  }
}
