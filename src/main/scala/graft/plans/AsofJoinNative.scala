package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Ascending, Attribute, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.CatalystBridge

/** The whole-operator custom-plan path for the as-of join (SURVEY.md §2b
  * "joins: theta/range/as-of"): a logical node + planner Strategy +
  * physical operator, the (c) tier of the engine's preference order.
  * The composed union+window form ([[graft.operators.AsofJoin]]) stays
  * as the (a)-tier contrast; both register against the same DuckDB
  * `ASOF JOIN` oracle.
  *
  * Physical shape: both children hash-clustered on the join key and
  * sorted within partitions by (key, time) — declared via
  * `requiredChildDistribution` / `requiredChildOrdering`, so Catalyst's
  * EnsureRequirements inserts (and can reuse or coalesce) the exchanges
  * and sorts; the operator itself is a single streaming merge pass with
  * O(1) state (the last-seen right row), never buffering a key group.
  * Versus the union+window composition this avoids widening every right
  * row to the unioned schema and carries exactly one candidate instead
  * of a running `last(...)` window buffer — same shuffle lower bound,
  * strictly less memory and no null-padding blowup at 100 TB.
  */
case class AsofJoinPlan(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Inner as-of merge join: for each left row, the single latest right
  * row with the same key and `rightTs <= leftTs`; left rows without a
  * prior right row drop (inner semantics, matching DuckDB `ASOF JOIN`
  * and [[graft.operators.AsofJoin.asofJoin]]). NULL never matches, as
  * in SQL join semantics: right rows with a null key or null ts are
  * skipped, and left rows with a null key or null ts emit nothing —
  * without this, two null keys would compare equal and a null rightTs
  * would pass the `<= leftTs` test (nulls sort first). */
case class AsofJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    left: SparkPlan, right: SparkPlan) extends SparkPlan with BinaryExecNode {

  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType) &&
    leftTs.dataType == rightTs.dataType,
    "as-of join sides must agree on key/time types")

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val nKeys = leftKeys.length
    val types = leftKeys.map(_.dataType) :+ leftTs.dataType
    val lExprs = leftKeys :+ leftTs
    val rExprs = rightKeys :+ rightTs
    val lSchema = left.output
    val rSchema = right.output
    val outSchema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lProj = UnsafeProjection.create(lExprs, lSchema)
      val rProj = UnsafeProjection.create(rExprs, rSchema)
      val resultProj = UnsafeProjection.create(outSchema, outSchema)
      val ords = types.map(TypeUtils.getInterpretedOrdering)
      // lexicographic compare of projected (key..., ts) rows on
      // [from, until). The null branches are DEFENSIVE only: every
      // call site filters both rows through hasNull first, so they are
      // unreachable in this exec — kept to keep cmp total.
      def cmp(a: InternalRow, b: InternalRow, from: Int, until: Int): Int = {
        var i = from
        while (i < until) {
          val an = a.isNullAt(i); val bn = b.isNullAt(i)
          if (an || bn) {
            if (!bn) return -1
            if (!an) return 1
          } else {
            val c = ords(i).compare(a.get(i, types(i)), b.get(i, types(i)))
            if (c != 0) return c
          }
          i += 1
        }
        0
      }
      // any null among (key..., ts) disqualifies a row from matching
      def hasNull(r: InternalRow): Boolean = {
        var i = 0
        while (i <= nKeys) {
          if (r.isNullAt(i)) return true
          i += 1
        }
        false
      }
      val joined = new JoinedRow
      var rCurRow: InternalRow = null   // next unconsumed right row
      var rCurKey: InternalRow = null   // its projected (key, ts) — copied
      var matchRow: InternalRow = null  // latest right row at-or-before — copied
      var matchKey: InternalRow = null
      def advanceRight(): Unit = {
        rCurRow = null; rCurKey = null
        // null-key/ts right rows sort first (nulls-first ascending) and
        // can never match — skip them so the merge sees a clean stream
        while (rCurRow == null && rIter.hasNext) {
          val row = rIter.next()
          val k = rProj(row)
          if (!hasNull(k)) { rCurRow = row; rCurKey = k.copy() }
        }
      }
      advanceRight()
      lIter.flatMap { lrow =>
        val lk = lProj(lrow)
        if (hasNull(lk)) None
        else {
          var keyCmp = if (rCurRow == null) 1 else cmp(rCurKey, lk, 0, nKeys)
          while (rCurRow != null &&
              (keyCmp < 0 || (keyCmp == 0 && cmp(rCurKey, lk, nKeys, nKeys + 1) <= 0))) {
            matchRow = rCurRow.copy(); matchKey = rCurKey
            advanceRight()
            keyCmp = if (rCurRow == null) 1 else cmp(rCurKey, lk, 0, nKeys)
          }
          if (matchRow != null && cmp(matchKey, lk, 0, nKeys) == 0)
            Some(resultProj(joined(lrow, matchRow)))
          else None
        }
      }
    }
  }
}

/** Plans [[AsofJoinPlan]] to [[AsofJoinExec]]; registered by
  * [[AsofJoinNative.asofJoin]] through [[NativeStack.register]], or
  * injected via SparkSessionExtensions by [[GraftExtensions]]. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(lk, rk, lts, rts, l, r) =>
      AsofJoinExec(lk, rk, lts, rts, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Custom optimizer rule: Catalyst's own PushDownPredicates can't see
  * through an unknown node, so a `Filter` sitting on an
  * [[AsofJoinPlan]] would run after the join. Predicates that
  * reference only left-side columns are semantically pushable (each
  * left row's match is independent of other left rows), and pushing
  * them shrinks the shuffled left side — at 100 TB the difference
  * between shuffling the filtered slice and the whole fact table.
  * Right-side predicates are NOT pushable (dropping a right row can
  * change which row is "latest" for a later left row — only true of
  * payload filters, but key/ts/payload analysis isn't worth the
  * generality here). */
object AsofJoinFilterPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, j: AsofJoinPlan) =>
      // mirror Catalyst's PushPredicateThroughNonJoin: only conjuncts
      // BEFORE the first nondeterministic one are candidates, so a
      // pushed predicate never evaluates ahead of a nondeterministic
      // conjunct it textually followed
      val (candidates, nonDeterministic) =
        splitConjunctivePredicates(cond).span(_.deterministic)
      val (pushable, kept0) =
        candidates.partition(_.references.subsetOf(j.left.outputSet))
      val kept = kept0 ++ nonDeterministic
      if (pushable.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(pushable.reduce(And), j.left))
        kept.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

object AsofJoinNative {

  /** As-of join `left` to the latest `right` row per key with
    * `right.ts <= left.ts`, through the custom physical operator.
    * Output columns: all of `left` then all of `right` (pre-project the
    * right side to key + ts + payload — the custom node is opaque to
    * Catalyst's column pruning, so pruning happens by construction).
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTs: String, rightTs: String): DataFrame = {
    NativeStack.register(left.sparkSession, AsofJoinStrategy,
      Some(AsofJoinFilterPushdown))
    val lPlan = CatalystBridge.analyzed(left)
    val rPlan0 = CatalystBridge.analyzed(right)
    // self-join lineage: duplicate exprIds across the two sides break
    // downstream resolution (Spark's join API deduplicates plans; this
    // constructor must too) — re-alias the right side fresh
    val rPlan =
      if (rPlan0.output.exists(lPlan.outputSet.contains)) {
        import org.apache.spark.sql.catalyst.expressions.Alias
        import org.apache.spark.sql.catalyst.plans.logical.Project
        Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
      } else rPlan0
    // the session's resolver (case-insensitive by default), not string
    // equality — and ambiguity is an error, not a silent first-match
    def attr(plan: LogicalPlan, n: String): Attribute = {
      val resolver = left.sparkSession.sessionState.conf.resolver
      plan.output.filter(a => resolver(a.name, n)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $n not in ${plan.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"column $n is ambiguous: ${many.size} matches in " +
            many.map(_.name).mkString(", "))
      }
    }
    CatalystBridge.ofRows(left, AsofJoinPlan(
      Seq(attr(lPlan, leftKey)), Seq(attr(rPlan, rightKey)),
      attr(lPlan, leftTs), attr(rPlan, rightTs), lPlan, rPlan))
  }
}
