package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension wiring for graft's native expressions, so a cluster
  * can enable them declaratively:
  *
  * {{{
  * spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * after which `vec_dot(a, b)` (and the cosine built on it) is callable
  * from plain SQL — the preferred escalation path when a semantics can't
  * be composed from builtins (SURVEY §7.3): a codegen'd Catalyst
  * Expression registered through `SparkSessionExtensions.injectFunction`,
  * not a UDF.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // opt-in AQP rewrite: inert until spark.graft.cosineJoin.rewrite=true
    ext.injectOptimizerRule(graft.plans.CosineJoinRewrite(_))
    // opt-in bucketed range-join rewrite: inert until
    // spark.graft.rangeJoin.rewrite=true
    ext.injectOptimizerRule(graft.plans.RangeJoinRewrite(_))
  }
}

object GraftExtensions {

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    require(args.size == n,
      s"$name expects $n arguments, got ${args.size}")

  /** (identifier, doc, builder) triples — the one list both injection
    * paths share. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        arity("vec_dot", 2, args); VecDot(args(0), args(1))
      }),
    // cosine_sim composes VecDot — one registry entry, no new class;
    // codegen's common-subexpression elimination shares the repeated
    // argument evaluations
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[VecDot].getName, null, "cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two numeric arrays " +
          "(vec_dot(a,b) / (|a| |b|))", ""),
      (args: Seq[Expression]) => {
        arity("cosine_sim", 2, args)
        import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
        val (a, b) = (args(0), args(1))
        Divide(VecDot(a, b),
          Multiply(Sqrt(VecDot(a, a)), Sqrt(VecDot(b, b))))
      }),
    // the JL sketch as SQL — dims must be literals (the sign matrix is a
    // plan-time constant shipped with the expression)
    (FunctionIdentifier("signed_projection"),
      new ExpressionInfo(classOf[SignedProjection].getName, null,
        "signed_projection",
        "signed_projection(emb, out_dim, dim) - ±1 MD5-parity random " +
          "projection of a numeric array to out_dim dimensions", ""),
      (args: Seq[Expression]) => {
        arity("signed_projection", 3, args)
        def intLit(e: Expression, what: String): Int = e match {
          case org.apache.spark.sql.catalyst.expressions
            .Literal(v: Int, _) => v
          case o => throw new IllegalArgumentException(
            s"signed_projection: $what must be an integer literal, got $o")
        }
        SignedProjection(args(0), intLit(args(1), "out_dim"),
          intLit(args(2), "dim"))
      })) ++ textFunctions

  /** The text-analysis tier as SQL functions: each builder round-trips the
    * existing Column-algebra implementation through the Column↔Expression
    * bridge, so SQL users and DataFrame users run the IDENTICAL expression
    * tree (one implementation, no drift). All are pure scalar expressions —
    * codegen'd, no UDFs. */
  private def textFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def scalar(name: String, doc: String)(f: Column => Column) =
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[VecDot].getName, null, name, doc, ""),
        (args: Seq[Expression]) => {
          arity(name, 1, args)
          ColumnBridge.analyzableExpression(f(ColumnBridge.column(args(0))))
        })
    Seq(
      scalar("quality_score",
        "quality_score(text) - [0,1] heuristic corpus-quality score")(
        graft.llm.TextOps.qualityScore),
      scalar("lang_guess",
        "lang_guess(text) - stopword-profile language guess (en/fr/de/es/und)")(
        graft.llm.TextOps.langGuess),
      scalar("token_count",
        "token_count(text) - whitespace token count")(
        graft.llm.TextOps.tokenCount),
      scalar("doc_fingerprint",
        "doc_fingerprint(text) - md5 content fingerprint")(
        graft.llm.TextOps.fingerprint),
      scalar("pii_scrub",
        "pii_scrub(text) - redact emails and phone-shaped digit runs")(
        graft.llm.Curation.scrub))
  }

  /** Imperative registration into an already-running session (tests,
    * notebooks) — same builders the extension injects at session build.
    * The cosine-join rewrite lands in `experimental.extraOptimizations`
    * (the post-hoc user batch; the rule handles both plan shapes). */
  def register(spark: SparkSession): Unit = {
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
    Seq(graft.plans.CosineJoinRewrite(spark),
        graft.plans.RangeJoinRewrite(spark)).foreach { rule =>
      if (!spark.experimental.extraOptimizations.contains(rule))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ rule
    }
  }
}
