package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** SQL-door registration for the engine's native expressions, so
  * `spark.sql("SELECT text_fingerprint(text) …")` works alongside the
  * Column API. Two entry points:
  *
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session
  *    build (the SparkSessionExtensions injection path);
  *  - `GraftFunctions.register(spark)` on a live session (same
  *    registry, no restart).
  *
  * The engine has three custom Catalyst stacks (logical node, planner
  * Strategy, physical operator): [[AsofJoinNative]] (as-of join has no
  * Spark builtin), [[RangeJoinNative]] (the equi+range join's builtin
  * plan re-filters whole key groups) and [[LshBandJoinNative]] (LSH
  * band-bucket pairs in one Exchange). Each registers itself on its
  * session the first time one of its nodes is built, through
  * [[NativeStack.register]]. This extension also injects the as-of and
  * range stacks — [[AsofJoinStrategy]] / [[RangeJoinStrategy]] plus the
  * optimizer Rules those nodes need, [[AsofJoinFilterPushdown]] /
  * [[RangeJoinFilterPushdown]] (Catalyst can't push predicates through
  * a node it doesn't know). Every other graft operator is expressible
  * as a declarative plan over these expressions, so Catalyst's own
  * planning stays authoritative (SURVEY.md §4).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectOptimizerRule(_ => AsofJoinFilterPushdown)
    ext.injectPlannerStrategy(_ => RangeJoinStrategy)
    ext.injectOptimizerRule(_ => RangeJoinFilterPushdown)
  }
}

/** First-use registration of one native stack on a live session, the
  * Pathling `SqlStrategy.setup` pattern: append the planner Strategy,
  * and the optimizer Rule if the stack has one, unless already present.
  * Idempotent, so every node constructor calls it; a session that never
  * builds a native node plans exactly as a plain session.
  *
  * The check reads only `spark.experimental`, not strategies injected
  * through [[GraftExtensions]], so a session built with the extension
  * gets a second copy of the as-of / range stack on first use. That is
  * harmless: both copies plan the node identically.
  */
object NativeStack {
  def register(spark: SparkSession, strategy: SparkStrategy,
               rule: Option[Rule[LogicalPlan]] = None): Unit = {
    val ex = spark.experimental
    // check-then-append must be atomic: two threads building nodes
    // concurrently would otherwise both pass contains() and append twice
    ex.synchronized {
      if (!ex.extraStrategies.contains(strategy))
        ex.extraStrategies = ex.extraStrategies :+ strategy
      rule.foreach { r =>
        if (!ex.extraOptimizations.contains(r))
          ex.extraOptimizations = ex.extraOptimizations :+ r
      }
    }
  }
}

object GraftFunctions {

  // builders run during analysis: malformed arguments must surface as
  // clean argument errors, not internal NPE / ClassCastException /
  // IndexOutOfBoundsException from es(i)/eval()
  private def arity(fn: String, es: Seq[Expression], min: Int, max: Int): Unit =
    if (es.length < min || es.length > max)
      throw new IllegalArgumentException(
        s"$fn expects ${if (min == max) s"$min" else s"$min to $max"} " +
          s"arguments, got ${es.length}")

  private def intArg(e: Expression, name: String): Int = e match {
    case lit if lit.foldable =>
      lit.eval() match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"$name must be a literal integer, got $other")
      }
    case other => throw new IllegalArgumentException(
      s"$name must be a literal integer, got $other")
  }

  private def boolArg(e: Expression, name: String): Boolean = e match {
    case lit if lit.foldable =>
      lit.eval() match {
        case b: java.lang.Boolean => b.booleanValue()
        case other => throw new IllegalArgumentException(
          s"$name must be a literal boolean, got $other")
      }
    case other => throw new IllegalArgumentException(
      s"$name must be a literal boolean, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.plans." + name, null, name, usage, "")

  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("text_fingerprint"),
      info("text_fingerprint", "text_fingerprint(str) - position-weighted rolling fingerprint mod 1e9+7"),
      (es: Seq[Expression]) => { arity("text_fingerprint", es, 1, 1)
        TextFingerprint(es.head) }),
    (FunctionIdentifier("subword_count"),
      info("subword_count", "subword_count(str) - BPE-ish subword count"),
      (es: Seq[Expression]) => { arity("subword_count", es, 1, 1)
        SubwordCount(es.head) }),
    (FunctionIdentifier("word_shingles"),
      info("word_shingles", "word_shingles(str, n[, distinct]) - word n-gram shingles"),
      (es: Seq[Expression]) => { arity("word_shingles", es, 2, 3)
        WordShingles(es.head, intArg(es(1), "n"),
          es.length > 2 && boolArg(es(2), "distinct")) }),
    (FunctionIdentifier("array_cosine_sim"),
      info("array_cosine_sim", "array_cosine_sim(a, b) - cosine of two float arrays"),
      (es: Seq[Expression]) => { arity("array_cosine_sim", es, 2, 2)
        ArrayCosineSim(es.head, es(1)) }),
    (FunctionIdentifier("pos_weighted_sum"),
      info("pos_weighted_sum", "pos_weighted_sum(arr) - sum of x_i*(i+1)"),
      (es: Seq[Expression]) => { arity("pos_weighted_sum", es, 1, 1)
        PosWeightedSum(es.head) }),
    (FunctionIdentifier("hyperplane_buckets"),
      info("hyperplane_buckets", "hyperplane_buckets(arr, planes, tables) - LSH bucket per table"),
      (es: Seq[Expression]) => { arity("hyperplane_buckets", es, 3, 3)
        HyperplaneBuckets(es.head,
          intArg(es(1), "planes"), intArg(es(2), "tables")) }),
    (FunctionIdentifier("shingle_explode"),
      info("shingle_explode", "shingle_explode(str, n) - generator: one row per word n-gram"),
      (es: Seq[Expression]) => { arity("shingle_explode", es, 2, 2)
        ShingleExplode(es.head, intArg(es(1), "n")) }))

  /** Idempotent registration on a live session. */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
