package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{CmsEstimate, CosineSimilarity, LatticeArgMin, PolyCharHash}
import graft.sources.GraftLogDml

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions into the session FunctionRegistry, so plain SQL can call
  * them (`SELECT cosine_sim(a.embedding, b.embedding) ...`,
  * `SELECT poly_char_hash(text, 31, 2147483647, -1)`).
  *
  * Enable with:
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  * The DataFrame API path (graft.functions.cosineSim) does not require the
  * extension — it builds the expression directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // plan-level determinism lint (opt-in via graft.lint.fpAggregates):
    // grouped floating-point sum/avg is order-dependent and banned by
    // the engine's exact-integer discipline — surfaced at ANALYSIS time
    // (check rules are not excludable the way optimizer batches are)
    // instead of as a flaky last-ulp diff in production
    ext.injectCheckRule(session => FpAggregateLint(session))
    // pure-interval joins rewritten to the binned equi-join shape — the
    // optimizer-rule tier of the extension surface (beside the analysis
    // check rule above and the expression injections below)
    ext.injectOptimizerRule(_ => RangeJoinRewrite)
    // whole-operator tier: the native backward AS-OF merge join
    // (AsOfJoinPlan -> AsOfJoinExec)
    ext.injectPlannerStrategy(_ => GraftStrategy)
    // SQL DELETE, UPDATE and MERGE INTO on a graftlog table run its
    // row-level bodies (GraftLogOps), once the statement is resolved
    ext.injectPostHocResolutionRule(_ => GraftLogDml)
    val (info: ExpressionInfo, builder) =
      FunctionRegistryBase.build[CosineSimilarity]("cosine_sim", since = None)
    ext.injectFunction((FunctionIdentifier("cosine_sim"), info,
      (children: Seq[Expression]) => builder(children)))

    val (cmsInfo: ExpressionInfo, cmsBuilder) =
      FunctionRegistryBase.build[CmsEstimate]("cms_estimate", since = None)
    ext.injectFunction((FunctionIdentifier("cms_estimate"), cmsInfo,
      (children: Seq[Expression]) => cmsBuilder(children)))

    val (amInfo: ExpressionInfo, amBuilder) =
      FunctionRegistryBase.build[LatticeArgMin]("lattice_argmin", since = None)
    ext.injectFunction((FunctionIdentifier("lattice_argmin"), amInfo,
      (children: Seq[Expression]) => amBuilder(children)))

    // poly_char_hash(str, base, mod, padTo): the hash parameters shape the
    // generated code (they are compiled into the codegen'd fold call), so
    // they must be integer LITERALS at analysis time — the builder runs
    // before constant folding, exactly like Spark's own parameterized
    // builtins (e.g. the format strings of to_char).
    ext.injectFunction((FunctionIdentifier("poly_char_hash"),
      new ExpressionInfo(classOf[PolyCharHash].getName, "poly_char_hash"),
      { children: Seq[Expression] =>
        if (children.length != 4)
          throw new IllegalArgumentException(
            "poly_char_hash requires (str, base, mod, padTo)")
        val padTo = intLit(children(3), "padTo")
        if (padTo < Int.MinValue || padTo > Int.MaxValue)
          throw new IllegalArgumentException(
            s"poly_char_hash: padTo out of int range: $padTo")
        PolyCharHash(children(0),
          intLit(children(1), "base"),
          intLit(children(2), "mod"),
          padTo.toInt)
      }))
  }

  private def intLit(e: Expression, name: String): Long = e match {
    case Literal(v: Long, _)  => v
    case Literal(v: Int, _)   => v.toLong
    case Literal(v: Short, _) => v.toLong
    case Literal(v: Byte, _)  => v.toLong
    case other => throw new IllegalArgumentException(
      s"poly_char_hash: $name must be an integer literal, got $other")
  }
}
