package graft.plans

import graft.functions.TopKByScore
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Optimizer rule: rewrites the universal top-k-per-group idiom
  *
  * {{{ row_number() OVER (PARTITION BY g ORDER BY score DESC, id ASC) <= k }}}
  *
  * into the [[graft.functions.TopKByScore]] bounded-heap aggregate plus a
  * posexplode — the rewrite every ANN path in this engine applied by hand
  * (the 1M-vector soak measured the window form sorting 125M rows with
  * ~4.9 GB of spill where the heap form shuffles a few kB: at most k
  * entries per group per task cross the wire, and no per-group sort of the
  * full candidate set ever runs). Users keep writing the portable window
  * idiom; plans silently get the heap. Registered by
  * [[graft.GraftExtensions]] via `injectOptimizerRule`.
  *
  * Fires only where provably value-identical to the window form:
  *  - the window's child outputs EXACTLY the partition columns plus one
  *    double score and one long id (anything else would be dropped by the
  *    aggregate, changing the schema);
  *  - score and id are NON-NULLABLE (row_number under `DESC NULLS LAST`
  *    would admit a null-score row whenever a group has fewer than k
  *    non-null rows; the heap skips nulls — indistinguishable statically,
  *    so nullable inputs stay on the window path);
  *  - the sort is exactly (score DESC, id ASC) with default null ordering
  *    — the heap's tie rule;
  *  - the filter is `rn <= k` or `rn < k+1` against an integer literal.
  * The emitted attributes reuse the original expression IDs, so parent
  * operators resolve unchanged.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  private def limitOf(cond: Expression, rnId: ExprId): Option[Int] =
    cond match {
      case LessThanOrEqual(a: AttributeReference, Literal(k: Int, IntegerType))
        if a.exprId == rnId => Some(k)
      case LessThan(a: AttributeReference, Literal(k: Int, IntegerType))
        if a.exprId == rnId => Some(k - 1)
      case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: AttributeReference)
        if a.exprId == rnId => Some(k)
      case _ => None
    }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(cond,
        Window(Seq(alias @ Alias(WindowExpression(_: RowNumber,
          WindowSpecDefinition(_, _, _)), _)), partSpec, orderSpec, child, _))
        if rewriteable(cond, alias, partSpec, orderSpec, child) =>
      val Seq(SortOrder(score: AttributeReference, _, _, _),
        SortOrder(id: AttributeReference, _, _, _)) = orderSpec
      val k = limitOf(cond, alias.exprId).get
      val partAttrs = partSpec.map(_.asInstanceOf[AttributeReference])
      val topAlias = Alias(
        TopKByScore(score, id, k).toAggregateExpression(), "__graft_top")()
      val agg = Aggregate(partAttrs, partAttrs :+ topAlias, child)
      val topAttr = topAlias.toAttribute
      val posAttr = AttributeReference("__graft_pos", IntegerType,
        nullable = false)()
      val entryAttr = AttributeReference("__graft_e",
        topAttr.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType, nullable = false)()
      val gen = Generate(PosExplode(topAttr),
        unrequiredChildIndex = Seq(agg.output.indexOf(topAttr)),
        outer = false, qualifier = None,
        generatorOutput = Seq(posAttr, entryAttr), agg)
      // window output order: child.output :+ rn — reproduce it exactly,
      // under the ORIGINAL expression ids
      val projected = child.output.map { a =>
        if (a.exprId == score.exprId)
          Alias(GetStructField(entryAttr, 0, Some("score")), a.name)(
            exprId = a.exprId)
        else if (a.exprId == id.exprId)
          Alias(GetStructField(entryAttr, 1, Some("id")), a.name)(
            exprId = a.exprId)
        else a
      } :+ Alias(Add(posAttr, Literal(1, IntegerType)), alias.name)(
        exprId = alias.exprId)
      Project(projected, gen)
  }

  private def rewriteable(cond: Expression, alias: Alias,
      partSpec: Seq[Expression], orderSpec: Seq[SortOrder],
      child: LogicalPlan): Boolean = {
    val okOrder = orderSpec match {
      case Seq(SortOrder(s: AttributeReference, Descending, NullsLast, _),
          SortOrder(i: AttributeReference, Ascending, NullsFirst, _)) =>
        s.dataType == DoubleType && !s.nullable &&
          i.dataType == LongType && !i.nullable &&
          // score/id must not also be partition columns (the projection
          // below could not keep both roles' values)
          !partSpec.exists(p => p.semanticEquals(s) || p.semanticEquals(i))
      case _ => false
    }
    okOrder &&
      partSpec.forall(_.isInstanceOf[AttributeReference]) &&
      limitOf(cond, alias.exprId).exists(_ > 0) &&
      // child must carry nothing the aggregate would drop
      child.output.map(_.exprId).toSet ==
        (partSpec.map(_.asInstanceOf[AttributeReference].exprId) ++
          orderSpec.map(_.child.asInstanceOf[AttributeReference].exprId)).toSet
  }
}
