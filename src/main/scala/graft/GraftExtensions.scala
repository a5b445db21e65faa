package graft

import graft.functions.{CosineExpr, DotProductExpr, FuseDotProduct}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension injector for the engine's native SQL surface.
  *
  * Wire up with `spark.sql.extensions=graft.GraftExtensions` (cluster
  * config — every session gets the functions, including ones the
  * application code never touches) or the session builder's
  * `withExtensions(new GraftExtensions)`.
  * The imperative registrars ([[graft.functions.VectorExpressions.register]],
  * [[graft.statemachine.TransitionFunctions.registerUdfs]]) remain for
  * sessions created without extension config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      (exprs: Seq[Expression]) => DotProductExpr(exprs(0), exprs(1)),
    ))
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineExpr].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineExpr(exprs(0), exprs(1)),
    ))
    // the char kernels, SQL-callable: window_hashes(text, k, stride)
    // (int args must be foldable literals — they parameterize codegen)
    // and bpe_encode(text) with the engine's default 48-merge table
    ext.injectFunction((
      FunctionIdentifier("window_hashes"),
      new ExpressionInfo(
        classOf[graft.functions.WindowHashExpr].getName, "window_hashes"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"window_hashes(text, k, stride) takes exactly 3 arguments, got ${exprs.length}")
        def intArg(i: Int, name: String): Int = {
          require(exprs(i).foldable,
            s"window_hashes: $name must be a literal integer")
          exprs(i).eval() match {
            case n: Number => n.intValue
            case other => throw new IllegalArgumentException(
              s"window_hashes: $name must be a literal integer, got $other")
          }
        }
        graft.functions.WindowHashExpr(exprs(0),
          intArg(1, "k"), intArg(2, "stride"))
      },
    ))
    ext.injectFunction((
      FunctionIdentifier("bpe_encode"),
      new ExpressionInfo(
        classOf[graft.functions.BpeEncodeExpr].getName, "bpe_encode"),
      (exprs: Seq[Expression]) => graft.functions.BpeEncodeExpr(exprs(0),
        graft.operators.TextAnalysis.bpeMerges),
    ))
    // the mergeable sketch family, SQL-callable (capacity/rank args
    // must be foldable literals — they parameterize the aggregation
    // buffers): kll_sketch_agg(x, k), kll_merge_agg(sk, k),
    // kll_quantiles(sk, array(r...)), freq_sketch_agg(s, maxMapSize),
    // freq_merge_agg(sk, maxMapSize), freq_topk(sk, k)
    def litInt(e: Expression, fn: String, name: String): Int = {
      require(e.foldable, s"$fn: $name must be a literal integer")
      e.eval() match {
        case n: Number => n.intValue
        case other => throw new IllegalArgumentException(
          s"$fn: $name must be a literal integer, got $other")
      }
    }
    def inject2(name: String, clazz: Class[_],
        mk: (Expression, Int) => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, s"$name takes exactly 2 arguments")
          mk(exprs(0), litInt(exprs(1), name, "arg 2"))
        },
      ))
    inject2("kll_sketch_agg", classOf[graft.functions.KllSketchAgg],
      (c, k) => graft.functions.KllSketchAgg(c, k).toAggregateExpression())
    inject2("kll_merge_agg", classOf[graft.functions.KllMergeAgg],
      (c, k) => graft.functions.KllMergeAgg(c, k).toAggregateExpression())
    inject2("freq_sketch_agg", classOf[graft.functions.FreqSketchAgg],
      (c, m) => graft.functions.FreqSketchAgg(c, m).toAggregateExpression())
    inject2("freq_merge_agg", classOf[graft.functions.FreqMergeAgg],
      (c, m) => graft.functions.FreqMergeAgg(c, m).toAggregateExpression())
    inject2("freq_topk", classOf[graft.functions.FreqTopKExpr],
      (c, k) => graft.functions.FreqTopKExpr(c, k))
    def inject1(name: String, clazz: Class[_],
        mk: Expression => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1, s"$name takes exactly 1 argument")
          mk(exprs(0))
        },
      ))
    inject1("theta_sketch_agg", classOf[graft.functions.ThetaSketchAgg],
      c => graft.functions.ThetaSketchAgg(c).toAggregateExpression())
    inject1("theta_union_agg", classOf[graft.functions.ThetaUnionAgg],
      c => graft.functions.ThetaUnionAgg(c).toAggregateExpression())
    inject1("theta_estimate", classOf[graft.functions.ThetaSetCountExpr],
      c => graft.functions.ThetaSetCountExpr(c, c, "estimate"))
    def injectTheta2(name: String, op: String): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(
          classOf[graft.functions.ThetaSetCountExpr].getName, name),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2, s"$name takes exactly 2 arguments")
          graft.functions.ThetaSetCountExpr(exprs(0), exprs(1), op)
        },
      ))
    injectTheta2("theta_intersect_count", "intersect")
    injectTheta2("theta_a_not_b_count", "a_not_b")
    ext.injectFunction((
      FunctionIdentifier("kll_quantiles"),
      new ExpressionInfo(
        classOf[graft.functions.KllQuantilesExpr].getName, "kll_quantiles"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          "kll_quantiles(sketch, array(ranks...)) takes exactly 2 arguments")
        require(exprs(1).foldable,
          "kll_quantiles: ranks must be a literal array of numbers")
        // convert per the literal's ELEMENT type: a bare
        // `array(0.25, 0.5)` parses as ARRAY<DECIMAL> in Spark SQL, so
        // assuming doubles here threw an opaque ClassCastException
        import org.apache.spark.sql.types.{ArrayType, Decimal, DataType => SDT}
        def toDouble(v: Any): Double = v match {
          case d: java.lang.Double => d
          case f: java.lang.Float => f.toDouble
          case dec: Decimal => dec.toDouble
          case n: java.lang.Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"kll_quantiles: ranks must be a literal array of numbers, got element $other")
        }
        val ranks = (exprs(1).dataType, exprs(1).eval()) match {
          case (ArrayType(et: SDT, _),
              a: org.apache.spark.sql.catalyst.util.ArrayData) =>
            (0 until a.numElements()).map { i =>
              val v = a.get(i, et)
              if (v == null) throw new IllegalArgumentException(
                "kll_quantiles: ranks must not contain NULL")
              toDouble(v)
            }
          case (t, _) => throw new IllegalArgumentException(
            s"kll_quantiles: ranks must be a literal array of numbers, got type $t")
        }
        graft.functions.KllQuantilesExpr(exprs(0), ranks)
      },
    ))
    // SQL-text UPDATE / MERGE INTO for graft-catalog snapshot tables
    // (DELETE needs no rule — the table's SupportsDelete serves it);
    // a resolution rule so the conversion happens before Spark's
    // row-level-operation rewrites reject the table
    ext.injectResolutionRule(session =>
      graft.catalog.GraftDmlRule(session))
    // auto-accelerate the portable HOF dot-product pattern
    ext.injectOptimizerRule(_ => FuseDotProduct)
    // rewrite pure range joins (p >= s AND p < s + L, no equi key)
    // from nested-loop shape into a binned hash equi-join
    ext.injectOptimizerRule(_ => graft.plans.BinRangeJoin)
    // plan the native sorted-merge as-of join node
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
