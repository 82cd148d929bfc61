package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Materialized-rollup rewrite: answer aggregates over a huge base table
  * from a small pre-aggregated table, transparently.
  *
  * A rollup MV stores, per combination of its dimension columns, the
  * partial aggregates `mv_n = count(*)` and one `mv_sum_<c> = sum(c)` per
  * registered measure. Because count and sum are decomposable, ANY
  * aggregate over the base table that (a) groups by a subset of the MV's
  * dimensions and (b) computes only count/sum shapes over registered
  * measures can be answered by RE-aggregating the MV — `count(*)` becomes
  * `sum(mv_n)`, `sum(x)` becomes `sum(mv_sum_x)`. At 100 TB that is the
  * difference between scanning the fact table per dashboard query and
  * scanning a table the size of the dimension cross product; the rewrite
  * makes it transparent, so queries keep targeting the base table and
  * plans silently read the MV.
  *
  * The rule is deliberately conservative — it rewrites only when it can
  * PROVE the MV answers the query, and leaves the plan untouched
  * otherwise: distinct/filtered aggregates, groupings outside the
  * dimension set, measures it has no column for, or any operator between
  * the Aggregate and the scan other than a column-preserving Project all
  * fall through to the base scan. Matching is structural: expression
  * trees are compared with attributes normalized to their column names
  * (the MV definition and the user query never share exprIds).
  *
  * Registered per base-table path via [[MvRewrite.buildAndRegister]] (one
  * shuffle to build — the same aggregate the queries would have run) and
  * injected like every graft rule through [[graft.GraftExtensions]].
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** One registered rollup: MV parquet dir, dimension name -> defining
    * expression over the base columns (normalized), measure normalized
    * sum-operand tree -> MV sum column name, plus the original Column
    * build spec (kept for incremental refresh — the trees are for
    * matching, the Columns re-aggregate a delta). */
  final case class Entry(
      mvDir: String,
      dims: Seq[(String, Expression)],
      measures: Seq[(Expression, String)],
      dimCols: Seq[(String, org.apache.spark.sql.Column)],
      measureCols: Seq[(String, org.apache.spark.sql.Column)],
      // range measures: min/max/count(x) are decomposable too (min of
      // per-group minima IS the minimum; non-null counts add) — tree ->
      // base measure name, stored as mv_min_<n> / mv_max_<n> / mv_cnt_<n>
      // partials
      ranges: Seq[(Expression, String)] = Nil,
      rangeCols: Seq[(String, org.apache.spark.sql.Column)] = Nil)

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  /** MV maintenance must never be answered BY the MV: the build rollup and
    * the incremental-refresh delta aggregate are themselves Aggregates over
    * the registered base (the refresh delta is even filter-shaped, so the
    * filter-aware rewrite would happily map it), and rewriting them reads
    * the stale/mid-overwrite MV — silent corruption. Planning happens on
    * the calling thread at action time, so a thread-local suspend flag
    * scopes the bypass exactly to the maintenance computation. */
  private val suspended: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)

  private def bypassed[T](body: => T): T = {
    val prev = suspended.get
    suspended.set(true)
    try body finally suspended.set(prev)
  }

  /** Attribute-name normalization: two trees define the same value over
    * the base table iff their normalized forms are semantically equal. */
  private def norm(e: Expression): Expression = e.transformUp {
    case a: AttributeReference => UnresolvedAttribute(a.name)
    case al: Alias => al.child
  }

  // plain case-class equality on the normalized trees: semanticEquals
  // would canonicalize, and canonicalization calls dataType on the
  // UnresolvedAttribute placeholders norm() introduces. Both sides come
  // out of the same analyzer under the same session, so structurally
  // identical Column code yields structurally equal trees.
  private def sameTree(a: Expression, b: Expression): Boolean =
    norm(a) == norm(b)

  /** The scan this subtree reads, if it is a bare parquet relation or a
    * column-preserving Project/Filter chain over one; returns the
    * substitution of project-output attributes by their defining
    * expressions plus the conjunctive filter predicates encountered,
    * inlined down to base-relation attributes. */
  private def baseScan(
      plan: LogicalPlan): Option[(String, Map[ExprId, Expression], Seq[Expression])] =
    plan match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        Some((fs.location.rootPaths.map(_.toString).sorted.mkString(","),
          Map.empty, Nil))
      case Project(projList, child) =>
        baseScan(child).map { case (path, inner, conds) =>
          val subst = projList.map {
            case al: Alias => al.exprId -> al.child.transformUp {
              case a: AttributeReference => inner.getOrElse(a.exprId, a)
            }
            case a: AttributeReference =>
              a.exprId -> inner.getOrElse(a.exprId, a)
          }.toMap
          (path, subst, conds)
        }
      case Filter(cond, child) =>
        baseScan(child).map { case (path, inner, conds) =>
          val split = splitAnd(cond).map(_.transformUp {
            case a: AttributeReference => inner.getOrElse(a.exprId, a)
          })
          (path, inner, conds ++ split)
        }
      case _ => None
    }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (suspended.get || registry.isEmpty) return plan
    plan.transformUp {
      case agg @ Aggregate(groupings, aggExprs, child, _) =>
        val rewritten = for {
          (path, subst, conds) <- baseScan(child)
          entry <- Option(registry.get(path))
          out <- rewrite(agg, groupings, aggExprs, subst, conds, entry)
        } yield out
        rewritten.getOrElse(agg)
    }
  }

  private def inline(e: Expression, subst: Map[ExprId, Expression]): Expression =
    e.transformUp { case a: AttributeReference => subst.getOrElse(a.exprId, a) }

  private def rewrite(
      agg: Aggregate,
      groupings: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      subst: Map[ExprId, Expression],
      conds: Seq[Expression],
      entry: Entry): Option[LogicalPlan] = {
    val spark = SparkSession.active
    val mvPlan = spark.read.parquet(entry.mvDir).queryExecution.analyzed
    val mvAttr: Map[String, AttributeReference] =
      mvPlan.output.map(a => a.name -> a.asInstanceOf[AttributeReference]).toMap

    // aggregate-over-filter (the dashboard shape): a predicate is
    // answerable from the MV iff, after substituting every occurrence of a
    // dimension's defining tree with the MV's dimension column, NO base
    // attribute survives — the predicate is then a pure function of dims,
    // and filtering the per-dim-combination partials before re-aggregating
    // is exactly filtering the base rows (each base row lands in exactly
    // one dim combination). Any residue of a base column vetoes the whole
    // rewrite — 'only rewrite when provable'.
    //
    // Date-range predicates need one extra recognition step: by the time
    // this rule runs, the optimizer has UNWRAPPED `date(ts) >= d` into raw
    // timestamp bounds (`ts >= midnight(d) AND ts < midnight(d+1)`), so
    // the dim tree no longer appears. That transformation is exactly
    // invertible — the optimizer only ever produces MIDNIGHT `>=`/`<`
    // bounds (and IsNotNull) from date comparisons — so a midnight-bound
    // comparison against a column whose date-cast is a registered dim maps
    // back to the dim; a non-midnight bound is a genuine sub-day predicate
    // the day-granularity partials cannot answer, and vetoes.
    import org.apache.spark.sql.types.{DateType, TimestampNTZType}
    def stripCasts(e: Expression): Expression = e match {
      case c: Cast => stripCasts(c.child)
      case x => x
    }
    def dateDimOf(a: AttributeReference): Option[AttributeReference] =
      entry.dims.collectFirst {
        case (n, t) if t.isInstanceOf[Cast] && t.dataType == DateType &&
          stripCasts(t) == UnresolvedAttribute(a.name) => mvAttr(n)
      }
    def midnightDays(l: Literal): Option[Int] = l match {
      case Literal(v: Long, TimestampNTZType)
          if Math.floorMod(v, 86400000000L) == 0L =>
        Some(Math.floorDiv(v, 86400000000L).toInt)
      case _ => None
    }
    val mvConds = conds.map { c =>
      val replaced = c.transformUp {
        case sub if entry.dims.exists { case (_, t) => sameTree(sub, t) } =>
          mvAttr(entry.dims.collectFirst {
            case (n, t) if sameTree(sub, t) => n }.get)
        case cmp @ GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
          (dateDimOf(a), midnightDays(l)) match {
            case (Some(d), Some(days)) =>
              GreaterThanOrEqual(d, Literal(days, DateType))
            case _ => cmp
          }
        case cmp @ LessThan(a: AttributeReference, l: Literal) =>
          (dateDimOf(a), midnightDays(l)) match {
            case (Some(d), Some(days)) => LessThan(d, Literal(days, DateType))
            case _ => cmp
          }
        case nn @ IsNotNull(a: AttributeReference) =>
          // date(a) is null iff a is null: the null-ts base rows land in
          // the null-dim partial, so the filters drop the same rows
          dateDimOf(a).map(IsNotNull(_)).getOrElse(nn)
      }
      val residual = replaced.exists {
        case a: AttributeReference => !mvAttr.get(a.name).exists(_.exprId == a.exprId)
        case _ => false
      }
      if (residual) return None
      replaced
    }

    // every grouping must be one of the MV's dimensions
    val dimOf = groupings.map { g =>
      val gi = inline(g, subst)
      entry.dims.collectFirst { case (name, tree) if sameTree(gi, tree) => name }
    }
    if (dimOf.exists(_.isEmpty)) return None
    val groupSubst: Seq[(Expression, Expression)] =
      groupings.zip(dimOf).map { case (g, d) => (g, mvAttr(d.get)) }

    // every aggregate function must be a decomposable count/sum the MV
    // carries; anything else vetoes the rewrite
    var ok = true
    def replaceAgg(ae: AggregateExpression): Expression = {
      if (ae.isDistinct || ae.filter.isDefined) { ok = false; return ae }
      ae.aggregateFunction match {
        // non-null literal only: count(NULL) is 0, not the row count —
        // rewriting it to sum(mv_n) would be a soundness hole
        case Count(Seq(Literal(v, _))) if v != null =>
          AggregateExpression(Sum(mvAttr("mv_n")), Complete, isDistinct = false)
        // count(x) — non-null counts per group sum across groups; only for
        // registered range measures (they carry the mv_cnt partial)
        case Count(Seq(opnd)) =>
          val oi = inline(opnd, subst)
          entry.ranges.collectFirst {
            case (tree, n) if sameTree(oi, tree) => n
          } match {
            case Some(n) =>
              Cast(AggregateExpression(Sum(mvAttr(s"mv_cnt_$n")), Complete,
                isDistinct = false), ae.dataType)
            case None => ok = false; ae
          }
        case Sum(opnd, _) =>
          val oi = inline(opnd, subst)
          entry.measures.collectFirst {
            case (tree, mvCol) if sameTree(oi, tree) => mvCol
          } match {
            case Some(mvCol) =>
              Cast(
                AggregateExpression(Sum(mvAttr(mvCol)), Complete, isDistinct = false),
                ae.dataType)
            case None => ok = false; ae
          }
        // min/max decompose like sum: the min over groups of per-group
        // minima is the min over rows — rewrite to the stored partial
        case Min(opnd) =>
          val oi = inline(opnd, subst)
          entry.ranges.collectFirst {
            case (tree, n) if sameTree(oi, tree) => n
          } match {
            case Some(n) =>
              Cast(AggregateExpression(Min(mvAttr(s"mv_min_$n")), Complete,
                isDistinct = false), ae.dataType)
            case None => ok = false; ae
          }
        case Max(opnd) =>
          val oi = inline(opnd, subst)
          entry.ranges.collectFirst {
            case (tree, n) if sameTree(oi, tree) => n
          } match {
            case Some(n) =>
              Cast(AggregateExpression(Max(mvAttr(s"mv_max_$n")), Complete,
                isDistinct = false), ae.dataType)
            case None => ok = false; ae
          }
        case _ => ok = false; ae
      }
    }

    val newAggExprs = aggExprs.map { ne =>
      val replaced = ne.transformUp {
        case ae: AggregateExpression => replaceAgg(ae)
      }
      // grouping subtrees (exact trees or their attribute refs) map to the
      // MV's dimension columns
      val regrouped = groupSubst.foldLeft(replaced) { case (e, (from, to)) =>
        e.transformUp {
          case sub if sub.fastEquals(from) => to
          case a: AttributeReference => from match {
            case f: NamedExpression if f.exprId == a.exprId => to
            case _ => a
          }
        }
      }
      regrouped match {
        case a: Alias => a
        case a: AttributeReference => a
        case other =>
          // a bare grouping column became the MV attribute — re-alias it
          // under the ORIGINAL name and exprId so parents resolve unchanged
          Alias(other, ne.name)(exprId = ne.exprId)
      }
    }
    if (!ok) return None
    // bare passthrough outputs whose exprId changed (grouping attr -> MV
    // attr) must keep the original id; detect and re-alias
    val fixed = newAggExprs.zip(aggExprs).map {
      case (n: AttributeReference, o) if n.exprId != o.exprId =>
        Alias(n, o.name)(exprId = o.exprId)
      case (n, _) => n
    }
    val source =
      if (mvConds.isEmpty) mvPlan
      else Filter(mvConds.reduce(And), mvPlan)
    Some(Aggregate(groupSubst.map(_._2), fixed, source))
  }

  // ------------------------------------------------------------ building

  /** Build the rollup MV for `base` (a parquet-backed DataFrame), write it
    * to `mvDir`, and register it for the rewrite. `dims` name the
    * dimension columns as expressions over the base schema; `measures`
    * lists the exact sum operands queries will use (e.g.
    * `value.cast("decimal(18,2)")`). One aggregation shuffle — the same
    * work a single query over the base table pays, amortized over every
    * query the rewrite serves afterwards. */
  def buildAndRegister(
      spark: SparkSession,
      basePath: String,
      mvDir: String,
      dims: Seq[(String, org.apache.spark.sql.Column)],
      measures: Seq[(String, org.apache.spark.sql.Column)],
      buildFrom: Option[DataFrame] = None,
      rangeMeasures: Seq[(String, org.apache.spark.sql.Column)] = Nil): Unit = {
    // drop any EXISTING registration for this base first: the build query
    // below is itself subject to the rewrite rule, and a stale entry would
    // rewrite it to read the registered mvDir while the overwrite deletes
    // that same directory mid-read — corrupting the MV so every later
    // rewritten query silently returns wrong results
    registry.remove(pathKey(spark, basePath))
    val base = spark.read.parquet(basePath)
    bypassed {
      rollup(buildFrom.getOrElse(base), dims, measures, rangeMeasures)
        .write.mode("overwrite").parquet(mvDir)
    }
    // resolved expression trees for the dims/measures: OPTIMIZE a
    // projection of exactly those columns over the base — the rule
    // compares against optimized plans, where RuntimeReplaceable sugar
    // (to_date -> cast chains, etc.) is already rewritten; probing the
    // merely-analyzed plan would register the unreplaced sugar and never
    // match a query
    val probe = base.select(
        dims.map { case (n, c) => c.as(s"d_$n") } ++
          measures.map { case (n, c) => c.as(s"m_$n") } ++
          rangeMeasures.map { case (n, c) => c.as(s"r_$n") }: _*)
      .queryExecution.optimizedPlan.asInstanceOf[Project].projectList
    val treeByName = probe.collect { case al: Alias => al.name -> norm(al.child) }.toMap
    val entry = Entry(
      mvDir,
      dims.map { case (n, _) => (n, treeByName(s"d_$n")) },
      measures.map { case (n, _) => (treeByName(s"m_$n"), s"mv_sum_$n") },
      dims, measures,
      rangeMeasures.map { case (n, _) => (treeByName(s"r_$n"), n) },
      rangeMeasures)
    registry.put(pathKey(spark, basePath), entry)
  }

  private def pathKey(spark: SparkSession, basePath: String): String =
    spark.read.parquet(basePath).queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString).sorted.mkString(",")
      case other => throw new IllegalStateException(
        s"not a file-backed relation: $other")
    }

  /** The partial-aggregate rollup of `rows` under a dim/measure spec. */
  private def rollup(
      rows: DataFrame,
      dims: Seq[(String, org.apache.spark.sql.Column)],
      measures: Seq[(String, org.apache.spark.sql.Column)],
      ranges: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val dimCols = dims.map { case (n, c) => c.as(n) }
    val aggCols = count(lit(1)).as("mv_n") +:
      (measures.map { case (n, c) => sum(c).as(s"mv_sum_$n") } ++
        ranges.flatMap { case (n, c) =>
          Seq(min(c).as(s"mv_min_$n"), max(c).as(s"mv_max_$n"),
            count(c).as(s"mv_cnt_$n")) })
    rows.groupBy(dimCols: _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Incremental MV maintenance: fold a DELTA of base-schema rows into the
    * stored partials — count and sum partials merge by addition, so the
    * refresh aggregates ONLY the delta and re-sums against the (already
    * dim-cardinality-sized) MV. Maintenance cost tracks the delta, never
    * the base table — the property that keeps an MV affordable when the
    * 100 TB base grows by a day's partition ([[graft.operators.Incremental]]
    * is the same idea for an explicitly-queried rollup; this one feeds the
    * transparent rewrite). */
  def refreshIncremental(
      spark: SparkSession, basePath: String, delta: DataFrame): Unit = {
    val entry = Option(registry.get(pathKey(spark, basePath))).getOrElse(
      throw new IllegalStateException(s"no MV registered for $basePath"))
    val deltaAgg = rollup(delta, entry.dimCols, entry.measureCols,
      entry.rangeCols)
    val old = spark.read.parquet(entry.mvDir)
    val dimNames = entry.dims.map(_._1)
    val mergedAggs =
      entry.measures.map { case (_, mvCol) =>
        sum(col(mvCol)).cast(old.schema(mvCol).dataType).as(mvCol)
      } ++ entry.ranges.flatMap { case (_, n) =>
        // min/max partials merge by min/max, non-null counts by addition —
        // the same decomposability the rewrite relies on
        Seq(min(col(s"mv_min_$n")).as(s"mv_min_$n"),
          max(col(s"mv_max_$n")).as(s"mv_max_$n"),
          sum(col(s"mv_cnt_$n")).cast("long").as(s"mv_cnt_$n"))
      }
    val merged = old.unionByName(deltaAgg
        .select(old.columns.map(col): _*))
      .groupBy(dimNames.map(col): _*)
      .agg(sum(col("mv_n")).cast("long").as("mv_n"), mergedAggs: _*)
    // stage before overwriting the directory being read (same discipline
    // as Merge.upsertPartitioned) — the cut holds dim-cardinality rows.
    // bypassed: the delta rollup inside `merged` is an aggregate over the
    // registered base and must aggregate the DELTA ROWS, not be rewritten
    // to read the stale MV it is refreshing
    bypassed {
      graft.util.Checkpoints.cut(merged)
        .write.mode("overwrite").parquet(entry.mvDir)
    }
  }

  /** Test/lifecycle hook: forget every registered MV. */
  def clear(): Unit = registry.clear()
}
