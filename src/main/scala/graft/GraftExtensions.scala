package graft

import graft.functions.{DamerauLevenshtein, DotProduct, SimHash64,
  StripAccentsExpr, TopKByScore, UnicodeNfc}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Lower}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT graft_dot(a, b)")`
  * works alongside the Column API, graft's optimizer rules
  * ([[graft.plans.MvRewrite]], [[graft.plans.TopKRewrite]],
  * [[graft.plans.AutoChunkWindow]]) and its planner strategies
  * ([[graft.plans.AsOfJoinStrategy]]: native as-of join;
  * [[graft.plans.ParseJsonOnce]]: a filter on parsed JSON fields reads the
  * one full parse instead of re-parsing the payload).
  *
  * Usage: SparkSession.builder().withExtensions(new GraftExtensions) or
  * spark.sql.extensions=graft.GraftExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    GraftExtensions.rules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftExtensions.strategies.foreach(st => ext.injectPlannerStrategy(_ => st))
  }
}

object GraftExtensions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** Every graft SQL function as (name, class its ExpressionInfo names,
    * builder) — the one table both registration paths read. */
  private[graft] val functions: Seq[(String, Class[_], FunctionBuilder)] = Seq(
    ("graft_dot", classOf[DotProduct], a => DotProduct(a(0), a(1))),
    ("graft_simhash", classOf[SimHash64], a => SimHash64(a(0))),
    ("graft_damerau", classOf[DamerauLevenshtein], a => DamerauLevenshtein(a(0), a(1))),
    ("graft_nfc", classOf[UnicodeNfc], a => UnicodeNfc(a.head)),
    ("graft_strip_accents", classOf[StripAccentsExpr], a => StripAccentsExpr(a.head)),
    ("graft_fold_key", classOf[StripAccentsExpr], a => foldKeyExpr(a.head)),
    ("graft_zvalue", graft.operators.Layout.getClass, a =>
      zValueExpr(a.tail, intArg(a.head, "bits"))),
    // aggregate: the analyzer wraps a returned AggregateFunction in an
    // AggregateExpression itself (same contract as built-in aggregates)
    ("graft_top_k", classOf[TopKByScore], a => TopKByScore(a(0), a(1), intArg(a(2), "k"))))

  /** Optimizer rules, in the order they run. */
  private[graft] val rules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.MvRewrite, graft.plans.TopKRewrite, graft.plans.AutoChunkWindow)

  /** Planner strategies: the native as-of join (AsOfJoinPlan logical ->
    * AsOfJoinExec sort-merge physical), then the one-parse JSON filter. */
  private[graft] val strategies: Seq[SparkStrategy] = Seq(
    graft.plans.AsOfJoinStrategy, graft.plans.ParseJsonOnce)

  /** `lower(strip_accents(nfc(s)))` — the EXACT tree
    * [[graft.functions.TextNorm.foldKey]] builds, so the SQL and Column
    * forms canonicalize identically (PlanSpec pins this). */
  private[graft] def foldKeyExpr(e: Expression): Expression =
    Lower(StripAccentsExpr(UnicodeNfc(e)))

  /** SQL form of [[graft.operators.Layout.zValue]]:
    * `graft_zvalue(bits, dim1, dim2, ...)`. Built directly in Catalyst
    * (the Column-API builder can't be reused here: a registry builder must
    * return a pure Expression tree, and nesting unresolved ColumnNode
    * wrappers inside one fails at codegen) — same bit-interleave and
    * loud range checks as the Column form. */
  private[graft] def zValueExpr(dims: Seq[Expression], bits: Int): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Cast,
      Concat, GreaterThanOrEqual, If, IsNotNull, LessThan, RaiseError,
      ShiftLeft, ShiftRight}
    import org.apache.spark.sql.types.{LongType, StringType}
    val d = dims.length
    require(d >= 2, s"z-order needs >= 2 dimensions, got $d (1-dim: just sort)")
    require(bits >= 1 && bits * d <= 62,
      s"bits * dims must fit a long: bits=$bits, dims=$d")
    val lim = 1L << bits
    val checked = dims.zipWithIndex.map { case (e, j) =>
      val l = Cast(e, LongType)
      If(expressions.And(expressions.And(IsNotNull(l),
          GreaterThanOrEqual(l, Literal(0L))), LessThan(l, Literal(lim))),
        l,
        new RaiseError(Concat(Seq(
          Literal(s"z-order dim $j out of range [0, $lim): got "),
          Cast(e, StringType)))))
    }
    val terms = for {
      (c, j) <- checked.zipWithIndex
      b <- 0 until bits
    } yield ShiftLeft(BitwiseAnd(ShiftRight(c, Literal(b)), Literal(1L)),
      Literal(b * d + j)): Expression
    terms.reduce(Add(_, _)) // disjoint bit positions: + is bitwise OR
  }

  /** Register the same functions, rules and strategies on an already-built
    * session. Idempotent: a function the registry already has (injected,
    * or from an earlier call) is kept, and only missing rules/strategies
    * are appended — optimizer rules can't be injected post-build, so
    * experimentalMethods is the late-registration hook. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, cls, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id))
        reg.registerFunction(id, new ExpressionInfo(cls.getName, name), builder)
    }
    val xm = spark.sessionState.experimentalMethods
    xm.extraOptimizations ++= rules.filterNot(xm.extraOptimizations.contains)
    xm.extraStrategies ++= strategies.filterNot(xm.extraStrategies.contains)
  }
}
