package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.ext.IncrementalView

/** Registry of incrementally-maintained views eligible for transparent
  * query rewrite (the lakehouse "MV routing" feature: BigQuery/Redshift
  * autorewrite, Databricks MV routing). Register a view once; any
  * aggregate query over its SOURCE table — `spark.sql` text or
  * DataFrame code, neither mentioning the view — is rerouted by
  * [[MvRewrite]] to the view's (tiny) materialization when that is
  * provably equivalent. Driver-side, session-shared.
  */
object MvCatalog {
  private val views = TrieMap.empty[String, IncrementalView]
  @volatile var enabled: Boolean = true

  def register(v: IncrementalView): Unit = views.put(v.dir, v)
  def clear(): Unit = views.clear()
  def isEmpty: Boolean = views.isEmpty
  def all: Seq[IncrementalView] = views.values.toSeq
}

/** Optimizer rule: rewrite `Aggregate` plans over a registered
  * [[IncrementalView]]'s source table to read the view instead.
  *
  * A rewrite fires only when ALL of the following hold (else the plan
  * is left untouched — the rule is allowed to decline, never to be
  * wrong):
  *
  *  - the aggregate's input (through column-pruning Projects and
  *    Filters) is one parquet relation whose file set is EXACTLY the
  *    source TxTable's current live file set ([[graft.core.TxTable
  *    .liveFileSet]]; deletion vectors disqualify — a raw file scan
  *    then isn't the table) — so time-travel reads, foreign tables,
  *    and mid-mutation scans never match;
  *  - the view is FRESH: its applied-source-version watermark equals
  *    the source's current version (stale views never serve);
  *  - grouping expressions are a subset of the view's group columns,
  *    filters reference only group columns, and every aggregate is a
  *    supported shape: COUNT(*), COUNT(col) / SUM(col) / AVG(col) for
  *    a tracked sum column, MIN(col) / MAX(col) for a tracked
  *    min/max column (no DISTINCT, no FILTER clause, AVG only
  *    over non-decimal inputs — decimal AVG's result-scale contract is
  *    Spark-internal and not worth reproducing).
  *
  * Exact-group match → Project over the view (zero aggregation at
  * query time). Subset grouping → re-aggregate the VIEW (cardinality
  * = group count, not source rows) with sum-of-sums / sum-of-counts;
  * NULL semantics ride the nn_* shadows either way (SUM/AVG are NULL
  * iff the group saw no non-null value, exactly like a recompute).
  * Output attribute ids are pinned to the original aggregate's, so
  * parent operators are oblivious.
  *
  * 100 TB shape: the matched aggregate would scan the full source
  * (shuffling change-volume × groups); the rewrite reads the view —
  * group-count rows from a few manifest-listed files — and the
  * freshness/file checks are driver-side metadata reads (two small
  * files), paid only for plans that already LOOK like a match.
  */
object MvRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!MvCatalog.enabled || MvCatalog.isEmpty) return plan
    plan.transformUp {
      case agg: Aggregate =>
        tryRewrite(agg).orElse(tryJoinRewrite(agg)).getOrElse(agg)
    }
  }

  private def norm(p: String): String = new Path(p).toUri.getPath

  /** Peel pruning Projects / Filters off the aggregate input; returns
    * (relation, filter conditions) or None if anything else appears.
    * Accepted relations: a parquet file scan (LogicalRelation over
    * HadoopFsRelation — the Scala read path) or a DSv2 relation over
    * the graft provider (the `spark.sql` path) — routing is
    * source-API-agnostic. */
  private def peel(p: LogicalPlan, conds: Seq[Expression])
      : Option[(LogicalPlan, Seq[Expression])] = p match {
    case lr: LogicalRelation => Some((lr, conds))
    case d: DataSourceV2Relation
        if d.table.isInstanceOf[graft.sources.GraftTable] => Some((d, conds))
    case SubqueryAlias(_, child) => peel(child, conds) // SQL names the relation
    case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      peel(child, conds)
    case Filter(cond, child) => peel(child, conds :+ cond)
    case _ => None
  }

  /** The freshness predicate for a peeled source relation, or None if
    * the relation is not a routable source scan. File scans match on
    * exact live-file-set equality; provider relations match on the
    * PINNED VERSION (the provider's snapshot isolation makes the
    * version the complete identity — same check, cheaper evidence).
    * Both require the view watermark current and the source DV-free. */
  private def sourceMatcher(rel: LogicalPlan)
      : Option[IncrementalView => Boolean] = rel match {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation =>
        val relFiles = h.location.inputFiles.map(norm).toSet
        if (relFiles.isEmpty) None
        else Some(v =>
          // cheap prefix gate before any manifest IO
          relFiles.head.startsWith(norm(v.source.dir) + "/") &&
            fresh(v, relFiles))
      case _ => None
    }
    case d: DataSourceV2Relation => d.table match {
      case gt: graft.sources.GraftTable =>
        Some(v => norm(gt.dir) == norm(v.source.dir) &&
          v.source.liveFileSet.exists { case (sv, _) =>
            sv == gt.pinnedVersion && v.appliedVersion == sv })
      case _ => None
    }
    case _ => None
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    for {
      (rel, conds) <- peel(agg.child, Nil)
      matches <- sourceMatcher(rel)
      // several views may be registered over one source (e.g. a sum
      // view and a min/max view): the FIRST fresh view whose tracked
      // shape can actually serve this aggregate wins — a view that
      // matches the source but declines the shape must not block the
      // others
      out <- MvCatalog.all.iterator
        .filter(matches)
        .map(v => build(agg, rel.output, conds, v))
        .collectFirst { case Some(p) => p }
    } yield out
  }

  /** View watermark == source current version AND the scanned file set
    * is exactly that version's live (DV-free) file set. */
  private def fresh(v: IncrementalView, relFiles: Set[String]): Boolean =
    v.source.liveFileSet.exists { case (srcVersion, files) =>
      v.appliedVersion == srcVersion && files.map(norm) == relFiles
    }

  private def build(agg: Aggregate, relOutput: Seq[Attribute],
      conds: Seq[Expression], view: IncrementalView): Option[LogicalPlan] = {
    val srcByExprId: Map[ExprId, String] =
      relOutput.map(a => a.exprId -> a.name).toMap
    val groupSet = view.groupCols.toSet
    val sumSet = view.sumCols.toSet
    val minMaxSet = view.minMaxCols.toSet

    // grouping expressions: plain source attributes, all view group cols
    val groupNames: Seq[String] = agg.groupingExpressions.map {
      case a: AttributeReference => srcByExprId.get(a.exprId)
      case _ => None
    } match {
      case gs if gs.forall(g => g.exists(groupSet.contains)) => gs.flatten
      case _ => return None
    }
    // residual filters may touch any group column (they apply to view
    // rows before re-aggregation), nothing else — and they must be
    // DETERMINISTIC: rand() < 0.5 references no attribute, but over
    // the view it would sample whole GROUPS instead of source rows
    // (the same guard Spark's own predicate-movement rules apply)
    val condsOk = conds.forall(c => c.deterministic &&
      c.references.toSeq.forall(a =>
        srcByExprId.get(a.exprId).exists(groupSet.contains)))
    if (!condsOk) return None

    // fresh storage plan (fresh expr ids per use)
    val vplan = view.storageRead.queryExecution.analyzed
    val vAttr: Map[String, Attribute] =
      vplan.output.map(a => a.name -> a).toMap
    val subst: Map[ExprId, Attribute] = srcByExprId.collect {
      case (id, name) if vAttr.contains(name) => id -> vAttr(name)
    }
    val vconds = conds.map(_.transform {
      case a: AttributeReference => subst(a.exprId)
    })
    val filtered = if (vconds.isEmpty) vplan
      else Filter(vconds.reduce(And), vplan)

    val exact = groupNames.toSet == groupSet && groupNames.nonEmpty

    // map one output NamedExpression onto view columns; None = shape
    // we don't serve (whole rewrite is then abandoned)
    def mapOut(ne: NamedExpression): Option[NamedExpression] = {
      def pin(e: Expression): NamedExpression =
        Alias(e, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
      def groupRef(a: AttributeReference): Option[Expression] =
        srcByExprId.get(a.exprId).filter(groupSet.contains).map(vAttr(_))
      ne match {
        case a: AttributeReference => groupRef(a).map(pin)
        case Alias(a: AttributeReference, _) => groupRef(a).map(pin)
        case Alias(ae: AggregateExpression, _) =>
          rewriteAgg(ae, exact, srcByExprId, vAttr, sumSet, minMaxSet).map(pin)
        case _ => None
      }
    }

    val outs = agg.aggregateExpressions.map(mapOut)
    if (outs.exists(_.isEmpty)) return None
    val mapped = outs.flatten

    val rewritten: LogicalPlan =
      if (exact) Project(mapped, filtered)
      else Aggregate(groupNames.map(vAttr(_)), mapped, filtered)

    if (sameShape(rewritten, agg)) Some(rewritten) else None
  }

  /** The splice must be type-identical from the parent's view. */
  private def sameShape(rewritten: LogicalPlan, agg: Aggregate): Boolean =
    rewritten.output.zip(agg.output).forall { case (n, o) =>
      n.exprId == o.exprId && n.dataType == o.dataType
    }

  /** Map one aggregate call onto view columns; None = a shape the view
    * cannot serve (the whole rewrite is then abandoned). `exact` =
    * the query's grouping equals the view's, so stored values serve
    * verbatim; otherwise they re-aggregate (sum-of-sums etc.). */
  private def rewriteAgg(ae: AggregateExpression, exact: Boolean,
      srcByExprId: Map[ExprId, String], vAttr: Map[String, Attribute],
      sumSet: Set[String], minMaxSet: Set[String]): Option[Expression] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    def nullOf(e: Expression) = Literal.create(null, e.dataType)
    def cnt = vAttr("cnt")
    def sumA(c: String) = vAttr(s"sum_$c")
    def nnA(c: String) = vAttr(s"nn_$c")
    def sumCol(e: Expression): Option[String] = e match {
      case a: AttributeReference =>
        srcByExprId.get(a.exprId).filter(sumSet.contains)
      case _ => None
    }
    def mmCol(e: Expression): Option[String] = e match {
      case a: AttributeReference =>
        srcByExprId.get(a.exprId).filter(minMaxSet.contains)
      case _ => None
    }
    def total(a: Attribute): Expression =
      if (exact) a else Sum(a).toAggregateExpression()
    ae.aggregateFunction match {
      case Count(Seq(l: Literal)) if l.value != null =>
        Some(Coalesce(Seq(total(cnt), Literal(0L))))
      case Count(Seq(e)) => sumCol(e).map(c =>
        Coalesce(Seq(total(nnA(c)), Literal(0L))))
      case s: Sum => sumCol(s.child).map { c =>
        val t = total(sumA(c))
        val cast = if (t.dataType == ae.dataType) t else Cast(t, ae.dataType)
        If(GreaterThan(Coalesce(Seq(total(nnA(c)), Literal(0L))),
          Literal(0L)), cast, nullOf(ae))
      }
      case a: Average if !a.child.dataType.isInstanceOf[DecimalType]
          && ae.dataType == DoubleType => sumCol(a.child).map { c =>
        val n = total(nnA(c))
        If(GreaterThan(Coalesce(Seq(n, Literal(0L))), Literal(0L)),
          Divide(Cast(total(sumA(c)), DoubleType), Cast(n, DoubleType)),
          nullOf(ae))
      }
      // extrema serve from the min_*/max_* columns (views tracking
      // them refresh delete-touched groups by recompute, so the
      // stored extremum is always exact); NULL semantics are free —
      // the stored value is NULL iff the group saw no non-null
      // value, and Min/Max re-aggregation skips NULLs like the
      // recompute would
      case m: Min => mmCol(m.child).map { c =>
        val a = vAttr(s"min_$c")
        if (exact) a else Min(a).toAggregateExpression()
      }
      case m: Max => mmCol(m.child).map { c =>
        val a = vAttr(s"max_$c")
        if (exact) a else Max(a).toAggregateExpression()
      }
      case _ => None
    }
  }

  // ---- join routing: Aggregate over an INNER equi-Join of a view's
  // source (the fact) with an arbitrary dim subtree — the dashboard
  // "fact-join-dim then aggregate" shape (J1). The view must group by
  // (at least) the fact's join keys; the rewrite joins the VIEW to the
  // dim and re-aggregates, so query cost is view-cardinality × dim,
  // never a fact scan.
  //
  // Correctness under multiplicity: an inner join replicates each fact
  // row once per matching dim row. The rewritten join replicates each
  // VIEW GROUP once per matching dim row, carrying its cnt/sum_*
  // columns — so Sum(cnt) ≡ COUNT(*), Sum(sum_c) ≡ SUM(c) etc., for
  // ANY dim-side multiplicity (no uniqueness assumption on the dim
  // key). Filters above the join (or peeled off the fact side —
  // fact-only predicates commute with an inner join) reapply above the
  // rewritten join; fact-side references must be view group columns,
  // which keep or drop a (group × dim) pair exactly as they kept or
  // dropped all of that group's fact rows. Fact-side aggregates map
  // onto the view's cnt/sum_*/min_*/max_* columns; dim-side
  // aggregates serve in cnt-weighted form (see dimAgg). Always
  // re-aggregates: exact-group shortcuts never apply across a join.

  private def tryJoinRewrite(agg: Aggregate): Option[LogicalPlan] = {
    def peelJ(p: LogicalPlan, conds: Seq[Expression])
        : Option[(Join, Seq[Expression])] = p match {
      case j: Join => Some((j, conds))
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        peelJ(child, conds)
      case Filter(cond, child) => peelJ(child, conds :+ cond)
      case _ => None
    }
    peelJ(agg.child, Nil)
      .filter { case (j, _) => j.joinType == Inner && j.condition.isDefined }
      .flatMap { case (join, conds) =>
        trySide(agg, join, conds, factLeft = true)
          .orElse(trySide(agg, join, conds, factLeft = false))
      }
  }

  /** Conjunctive fact-attr = dim-attr pairs, or None if the condition
    * holds anything else. */
  private def equiPairs(cond: Expression, factOut: AttributeSet,
      dimOut: AttributeSet): Option[Seq[(AttributeReference, AttributeReference)]] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case x => Seq(x)
    }
    val pairs = split(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if factOut.contains(a) && dimOut.contains(b) => Some((a, b))
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if dimOut.contains(a) && factOut.contains(b) => Some((b, a))
      case _ => None
    }
    if (pairs.nonEmpty && pairs.forall(_.isDefined)) Some(pairs.flatten)
    else None
  }

  private def trySide(agg: Aggregate, join: Join, conds: Seq[Expression],
      factLeft: Boolean): Option[LogicalPlan] = {
    val (factPlan, dimPlan) =
      if (factLeft) (join.left, join.right) else (join.right, join.left)
    for {
      pairs <- equiPairs(join.condition.get, factPlan.outputSet, dimPlan.outputSet)
      (rel, factConds) <- peel(factPlan, Nil)
      matches <- sourceMatcher(rel)
      out <- MvCatalog.all.iterator
        .filter(matches)
        .map(v => buildJoin(agg, rel.output, dimPlan, pairs,
          conds ++ factConds, v))
        .collectFirst { case Some(p) => p }
    } yield out
  }

  private def buildJoin(agg: Aggregate, relOutput: Seq[Attribute],
      dimPlan: LogicalPlan, pairs: Seq[(AttributeReference, AttributeReference)],
      conds: Seq[Expression], view: IncrementalView): Option[LogicalPlan] = {
    val srcByExprId: Map[ExprId, String] =
      relOutput.map(a => a.exprId -> a.name).toMap
    val groupSet = view.groupCols.toSet
    val sumSet = view.sumCols.toSet
    val minMaxSet = view.minMaxCols.toSet
    val dimAttrs = dimPlan.outputSet

    // every fact join key must be a view group column
    if (!pairs.forall { case (f, _) =>
      srcByExprId.get(f.exprId).exists(groupSet.contains) }) return None
    // grouping: dim attrs pass through, fact attrs must be group cols
    val groupingOk = agg.groupingExpressions.forall {
      case a: AttributeReference =>
        dimAttrs.contains(a) ||
          srcByExprId.get(a.exprId).exists(groupSet.contains)
      case _ => false
    }
    if (!groupingOk) return None
    // filters: deterministic, fact-side references limited to group cols
    val condsOk = conds.forall(c => c.deterministic &&
      c.references.toSeq.forall(a => dimAttrs.contains(a) ||
        srcByExprId.get(a.exprId).exists(groupSet.contains)))
    if (!condsOk) return None

    val vplan = view.storageRead.queryExecution.analyzed
    val vAttr: Map[String, Attribute] =
      vplan.output.map(a => a.name -> a).toMap
    val subst: Map[ExprId, Attribute] = srcByExprId.collect {
      case (id, name) if vAttr.contains(name) => id -> vAttr(name)
    }
    def substFact(e: Expression): Expression = e.transform {
      case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
    }

    val newCond = pairs.map { case (f, d) =>
      EqualTo(subst(f.exprId), d): Expression }.reduce(And)
    val joined = Join(vplan, dimPlan, Inner, Some(newCond), JoinHint.NONE)
    val filtered = if (conds.isEmpty) joined
      else Filter(conds.map(substFact).reduce(And), joined)

    // dim-side aggregates serve in cnt-WEIGHTED form: the original
    // join evaluates them once per matching FACT ROW, the rewritten
    // join once per view group — multiplying by cnt restores the
    // multiplicity (COUNT(d) = Σ cnt over non-null d, SUM(d) =
    // Σ d·cnt). Min/Max need no weighting — replication never moves
    // an extremum. NULL semantics are free: a NULL d zeroes/skips its
    // term exactly as the original's per-row evaluation skipped it.
    def dimAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      def cnt = vAttr("cnt")
      def dimOnly(e: Expression): Option[Expression] =
        if (e.deterministic && e.references.nonEmpty &&
          e.references.toSeq.forall(dimAttrs.contains)) Some(e) else None
      def weightedCount(d: Expression): Expression =
        Coalesce(Seq(Sum(If(IsNotNull(d), cnt, Literal(0L)))
          .toAggregateExpression(), Literal(0L)))
      ae.aggregateFunction match {
        case Count(Seq(e)) => dimOnly(e).map(weightedCount)
        case s: Sum if !s.child.dataType.isInstanceOf[DecimalType] =>
          dimOnly(s.child).map { d =>
            val t = Sum(Multiply(Cast(d, ae.dataType), Cast(cnt, ae.dataType)))
              .toAggregateExpression()
            if (t.dataType == ae.dataType) t else Cast(t, ae.dataType)
          }
        case a: Average if !a.child.dataType.isInstanceOf[DecimalType]
            && ae.dataType == DoubleType =>
          dimOnly(a.child).map { d =>
            val n = weightedCount(d)
            If(GreaterThan(n, Literal(0L)),
              Divide(Sum(Multiply(Cast(d, DoubleType), Cast(cnt, DoubleType)))
                .toAggregateExpression(), Cast(n, DoubleType)),
              Literal.create(null, ae.dataType))
          }
        case m: Min => dimOnly(m.child).map(d => Min(d).toAggregateExpression())
        case m: Max => dimOnly(m.child).map(d => Max(d).toAggregateExpression())
        case _ => None
      }
    }

    def mapOut(ne: NamedExpression): Option[NamedExpression] = {
      def pin(e: Expression): NamedExpression =
        Alias(e, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
      ne match {
        case a: AttributeReference if dimAttrs.contains(a) => Some(a)
        case a: AttributeReference =>
          srcByExprId.get(a.exprId).filter(groupSet.contains)
            .map(n => pin(vAttr(n)))
        case Alias(a: AttributeReference, _) if dimAttrs.contains(a) =>
          Some(pin(a))
        case Alias(a: AttributeReference, _) =>
          srcByExprId.get(a.exprId).filter(groupSet.contains)
            .map(n => pin(vAttr(n)))
        case Alias(ae: AggregateExpression, _) =>
          rewriteAgg(ae, exact = false, srcByExprId, vAttr, sumSet, minMaxSet)
            .orElse(dimAgg(ae)).map(pin)
        case _ => None
      }
    }
    val outs = agg.aggregateExpressions.map(mapOut)
    if (outs.exists(_.isEmpty)) return None
    val newGrouping = agg.groupingExpressions.map {
      case a: AttributeReference if dimAttrs.contains(a) => a
      case a: AttributeReference => vAttr(srcByExprId(a.exprId))
    }
    val rewritten = Aggregate(newGrouping, outs.flatten, filtered)
    if (sameShape(rewritten, agg)) Some(rewritten) else None
  }
}
