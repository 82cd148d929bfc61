package graft

import graft.functions.{DamerauLevenshtein, DotProduct, MinHashBandKeys,
  MinHashMd5, SimHash64, StripAccentsExpr, UnicodeNfc, WordShingles}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Lower}

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT graft_dot(a, b)")`
  * works alongside the Column API, graft's optimizer rules
  * ([[graft.plans.RewriteDotProductHof]]: portable HOF dot product ->
  * codegen'd DotProduct, and MvRewrite, TopKRewrite, AutoSalt,
  * AutoChunkWindow) and its planner strategies
  * ([[graft.plans.AsOfJoinStrategy]]: native as-of join;
  * [[graft.plans.ParseJsonOnce]]: a filter on parsed JSON fields reads the
  * one full parse instead of re-parsing the payload).
  *
  * Usage: SparkSession.builder().withExtensions(new GraftExtensions) or
  * spark.sql.extensions=graft.GraftExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashMd5].getName, "graft_minhash"),
      (args: Seq[Expression]) => MinHashMd5(args(0), intArg(args(1), "k"))))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(classOf[MinHashBandKeys].getName, "graft_minhash_bands"),
      (args: Seq[Expression]) =>
        MinHashBandKeys(args(0), intArg(args(1), "k"), intArg(args(2), "bands"))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash64(args(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_damerau"),
      new ExpressionInfo(classOf[DamerauLevenshtein].getName, "graft_damerau"),
      (args: Seq[Expression]) => DamerauLevenshtein(args(0), args(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_word_shingles"),
      (args: Seq[Expression]) => WordShingles(args(0), intArg(args(1), "n"))))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[UnicodeNfc].getName, "graft_nfc"),
      (args: Seq[Expression]) => UnicodeNfc(args.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_strip_accents"),
      new ExpressionInfo(classOf[StripAccentsExpr].getName, "graft_strip_accents"),
      (args: Seq[Expression]) => StripAccentsExpr(args.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_fold_key"),
      new ExpressionInfo(classOf[StripAccentsExpr].getName, "graft_fold_key"),
      (args: Seq[Expression]) => GraftExtensions.foldKeyExpr(args.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_zvalue"),
      new ExpressionInfo(graft.operators.Layout.getClass.getName, "graft_zvalue"),
      (args: Seq[Expression]) =>
        GraftExtensions.zValueExpr(args.tail, intArg(args.head, "bits"))))
    // aggregate: the analyzer wraps a returned AggregateFunction in an
    // AggregateExpression itself (same contract as built-in aggregates)
    ext.injectFunction((
      FunctionIdentifier("graft_top_k"),
      new ExpressionInfo(classOf[graft.functions.TopKByScore].getName, "graft_top_k"),
      (args: Seq[Expression]) =>
        graft.functions.TopKByScore(args(0), args(1), intArg(args(2), "k"))))
    ext.injectOptimizerRule(_ => graft.plans.RewriteDotProductHof)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    ext.injectOptimizerRule(_ => graft.plans.AutoSalt)
    ext.injectOptimizerRule(_ => graft.plans.AutoChunkWindow)
    // whole-operator tier: the native as-of join's planner strategy
    // (AsOfJoinPlan logical -> AsOfJoinExec sort-merge physical)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.ParseJsonOnce)
  }
}

object GraftExtensions {

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

  /** Register the same function set on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    def intLit(e: Expression, name: String): Int = e match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$name must be an integer literal, got $other")
    }
    reg.createOrReplaceTempFunction("graft_dot",
      args => DotProduct(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_simhash",
      args => SimHash64(args.head), "built-in")
    reg.createOrReplaceTempFunction("graft_damerau",
      args => DamerauLevenshtein(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_minhash",
      args => MinHashMd5(args(0), intLit(args(1), "k")), "built-in")
    reg.createOrReplaceTempFunction("graft_minhash_bands",
      args => MinHashBandKeys(args(0), intLit(args(1), "k"), intLit(args(2), "bands")),
      "built-in")
    reg.createOrReplaceTempFunction("graft_word_shingles",
      args => WordShingles(args(0), intLit(args(1), "n")), "built-in")
    reg.createOrReplaceTempFunction("graft_nfc",
      args => UnicodeNfc(args.head), "built-in")
    reg.createOrReplaceTempFunction("graft_strip_accents",
      args => StripAccentsExpr(args.head), "built-in")
    reg.createOrReplaceTempFunction("graft_fold_key",
      args => foldKeyExpr(args.head), "built-in")
    reg.createOrReplaceTempFunction("graft_zvalue",
      args => zValueExpr(args.tail, intLit(args.head, "bits")), "built-in")
    reg.createOrReplaceTempFunction("graft_top_k",
      args => graft.functions.TopKByScore(args(0), args(1), intLit(args(2), "k")),
      "built-in")
    // optimizer rules can't be injected post-build via SparkSessionExtensions;
    // experimentalMethods is the supported late-registration hook
    if (!spark.sessionState.experimentalMethods.extraOptimizations
        .contains(graft.plans.RewriteDotProductHof)) {
      spark.sessionState.experimentalMethods.extraOptimizations ++=
        Seq(graft.plans.RewriteDotProductHof)
    }
    if (!spark.sessionState.experimentalMethods.extraOptimizations
        .contains(graft.plans.MvRewrite)) {
      spark.sessionState.experimentalMethods.extraOptimizations ++=
        Seq(graft.plans.MvRewrite)
    }
    if (!spark.sessionState.experimentalMethods.extraOptimizations
        .contains(graft.plans.TopKRewrite)) {
      spark.sessionState.experimentalMethods.extraOptimizations ++=
        Seq(graft.plans.TopKRewrite)
    }
    if (!spark.sessionState.experimentalMethods.extraOptimizations
        .contains(graft.plans.AutoSalt)) {
      spark.sessionState.experimentalMethods.extraOptimizations ++=
        Seq(graft.plans.AutoSalt)
    }
    if (!spark.sessionState.experimentalMethods.extraOptimizations
        .contains(graft.plans.AutoChunkWindow)) {
      spark.sessionState.experimentalMethods.extraOptimizations ++=
        Seq(graft.plans.AutoChunkWindow)
    }
    if (!spark.sessionState.experimentalMethods.extraStrategies
        .contains(graft.plans.AsOfJoinStrategy)) {
      spark.sessionState.experimentalMethods.extraStrategies ++=
        Seq(graft.plans.AsOfJoinStrategy)
    }
    if (!spark.sessionState.experimentalMethods.extraStrategies
        .contains(graft.plans.ParseJsonOnce)) {
      spark.sessionState.experimentalMethods.extraStrategies ++=
        Seq(graft.plans.ParseJsonOnce)
    }
  }
}
