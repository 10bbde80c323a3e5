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

/** The second whole-operator custom-plan path (after
  * [[AsofJoinNative]]): a native equi+range (interval/band) join —
  * rows of `left` matched to every `right` row with the same key and
  * `lo <= value <= hi`. Spark plans this shape as an equi sort-merge
  * join that buffers the WHOLE key group on the right and re-filters
  * the full cross product of each group (O(|Lk|·|Rk|) per key — the
  * band predicate is a residual, not a search bound). This operator
  * makes the band a search bound: per right key group it builds a
  * lo-sorted interval index with a max-hi segment tree, so each left
  * probe enumerates its matches in O(log |Rk| + matches) instead of
  * scanning the group. At 100 TB with hot keys (the exact regime
  * where group sizes explode) that's the difference between a
  * per-key quadratic and output-linear work; reference behavior:
  * muyu42/DataS selects per-cluster score bands (percentile lo..hi
  * against each pool member's score, `main.py:402-450`) — the
  * key+value-in-[lo,hi] shape this node executes natively.
  *
  * Physical shape mirrors the as-of node: both children hash-clustered
  * on the key and sorted within partitions by it — DECLARED via
  * `requiredChildDistribution`/`requiredChildOrdering` so Catalyst's
  * EnsureRequirements owns the exchanges/sorts (and can reuse or
  * coalesce them). Memory is ONE right key group (the same bound as
  * sort-merge join's buffered side), never the partition.
  */
case class RangeJoinPlan(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    value: Expression, lo: Expression, hi: Expression,
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): RangeJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Inner equi+range merge join. NULL never matches, as in SQL join
  * semantics: rows with a null key on either side, a null left
  * `value`, or a null right `lo`/`hi` are skipped outright. Empty
  * bands (`lo > hi`) match nothing by construction. */
case class RangeJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    value: Expression, lo: Expression, hi: Expression,
    left: SparkPlan, right: SparkPlan) extends SparkPlan with BinaryExecNode {

  require(leftKeys.map(_.dataType) == rightKeys.map(_.dataType),
    "range join sides must agree on key types")
  require(value.dataType == lo.dataType && value.dataType == hi.dataType,
    "range join value/lo/hi must agree on type")

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  /** Keys only — the probe side needs no intra-group order and the
    * build side is re-sorted by `lo` group-locally, so declaring a
    * (key, ts)-style secondary order would buy nothing and cost a
    * bigger sort. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)),
    rightKeys.map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    leftKeys.map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): RangeJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val nKeys = leftKeys.length
    val keyTypes = leftKeys.map(_.dataType)
    val vType = value.dataType
    val lSchema = left.output
    val rSchema = right.output
    val outSchema = output
    val lKeyExprs = leftKeys
    val lValExpr = value
    val rKeyExprs = rightKeys
    val rBandExprs = Seq(lo, hi)
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lSchema)
      val lValProj = UnsafeProjection.create(Seq(lValExpr), lSchema)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rSchema)
      val rBandProj = UnsafeProjection.create(rBandExprs, rSchema)
      val resultProj = UnsafeProjection.create(outSchema, outSchema)
      val keyOrds = keyTypes.map(TypeUtils.getInterpretedOrdering)
      val vOrd = TypeUtils.getInterpretedOrdering(vType)
      val joined = new JoinedRow

      def keyCmp(a: InternalRow, b: InternalRow): Int = {
        var i = 0
        while (i < nKeys) {
          val c = keyOrds(i).compare(a.get(i, keyTypes(i)), b.get(i, keyTypes(i)))
          if (c != 0) return c
          i += 1
        }
        0
      }
      def keyHasNull(r: InternalRow): Boolean = {
        var i = 0
        while (i < nKeys) {
          if (r.isNullAt(i)) return true
          i += 1
        }
        false
      }

      // right head: next unconsumed valid right row (copied — execute()
      // iterators reuse their row objects)
      var rHeadRow: InternalRow = null
      var rHeadKey: InternalRow = null
      def advanceRightHead(): Unit = {
        rHeadRow = null; rHeadKey = null
        while (rHeadRow == null && rIter.hasNext) {
          val row = rIter.next()
          val k = rKeyProj(row)
          if (!keyHasNull(k)) {
            val band = rBandProj(row)
            if (!band.isNullAt(0) && !band.isNullAt(1)) {
              rHeadRow = row.copy(); rHeadKey = k.copy()
            }
          }
        }
      }
      advanceRightHead()

      // current right key group as an interval index: rows sorted by
      // lo, plus an iterative max-hi segment tree (power-of-two size,
      // null = -inf padding) for O(log n + k) stabbing enumeration
      var grpKey: InternalRow = null
      var grpRows: Array[InternalRow] = null
      var grpLos: Array[Any] = null
      var grpSize = 0       // leaf count (next pow2 >= n)
      var grpTree: Array[Any] = null
      def skipHeadGroup(): Unit = {
        val k0 = rHeadKey
        while (rHeadRow != null && keyCmp(rHeadKey, k0) == 0) advanceRightHead()
      }
      def buildGroupFromHead(): Unit = {
        val k0 = rHeadKey
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Any, Any, InternalRow)]
        while (rHeadRow != null && keyCmp(rHeadKey, k0) == 0) {
          // copy: for non-primitive band types, get() would otherwise
          // return views into the projection's reused buffer
          val band = rBandProj(rHeadRow).copy()
          buf += ((band.get(0, vType), band.get(1, vType), rHeadRow))
          advanceRightHead()
        }
        val sorted = buf.sortWith((a, b) => vOrd.compare(a._1, b._1) < 0)
        val n = sorted.length
        grpKey = k0
        grpRows = new Array[InternalRow](n)
        grpLos = new Array[Any](n)
        var sz = 1
        while (sz < n) sz <<= 1
        grpSize = sz
        grpTree = new Array[Any](2 * sz) // nulls = -inf
        var i = 0
        while (i < n) {
          grpLos(i) = sorted(i)._1
          grpRows(i) = sorted(i)._3
          grpTree(sz + i) = sorted(i)._2
          i += 1
        }
        var j = sz - 1
        while (j >= 1) {
          val a = grpTree(2 * j); val b = grpTree(2 * j + 1)
          grpTree(j) =
            if (a == null) b
            else if (b == null) a
            else if (vOrd.compare(a, b) >= 0) a else b
          j += -1
        }
      }

      /** Indices i < ub with hi_i >= v, ascending — recursive descent
        * pruned by the subtree max. */
      def collectMatches(v: Any, ub: Int): Array[Int] = {
        val out = new scala.collection.mutable.ArrayBuffer[Int]()
        def rec(node: Int, nlo: Int, nhi: Int): Unit = {
          if (nlo >= ub) return
          val m = grpTree(node)
          if (m == null || vOrd.compare(m, v) < 0) return
          if (node >= grpSize) { out += node - grpSize; return }
          val mid = (nlo + nhi) >>> 1
          rec(2 * node, nlo, mid)
          rec(2 * node + 1, mid, nhi)
        }
        rec(1, 0, grpSize)
        out.toArray
      }

      lIter.flatMap { lrow =>
        val lk = lKeyProj(lrow)
        if (keyHasNull(lk)) Iterator.empty
        else {
          val lv = lValProj(lrow)
          if (lv.isNullAt(0)) Iterator.empty
          else {
            // drop a stale group, then pull right groups up to lk
            if (grpKey != null && keyCmp(grpKey, lk) < 0) grpKey = null
            while (grpKey == null && rHeadRow != null && keyCmp(rHeadKey, lk) <= 0) {
              if (keyCmp(rHeadKey, lk) == 0) buildGroupFromHead()
              else skipHeadGroup()
            }
            if (grpKey == null || keyCmp(grpKey, lk) != 0) Iterator.empty
            else {
              val v = lv.get(0, vType)
              // first index with lo > v
              var a = 0; var b = grpRows.length
              while (a < b) {
                val mid = (a + b) >>> 1
                if (vOrd.compare(grpLos(mid), v) <= 0) a = mid + 1 else b = mid
              }
              if (a == 0) Iterator.empty
              else collectMatches(v, a).iterator
                .map(i => resultProj(joined(lrow, grpRows(i))))
            }
          }
        }
      }
    }
  }
}

/** Plans [[RangeJoinPlan]] to [[RangeJoinExec]]. */
object RangeJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case RangeJoinPlan(lk, rk, v, lo, hi, l, r) =>
      RangeJoinExec(lk, rk, v, lo, hi, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Filter pushdown through the opaque range-join node. Unlike the
  * as-of node (where dropping a right row changes which row is
  * "latest" for other rows), the inner range join's pairs are
  * independent: a predicate over only-left or only-right columns
  * distributes over the join, so BOTH sides are pushable — at 100 TB
  * each pushed side is a shuffle that moves the filtered slice
  * instead of the whole table. */
object RangeJoinFilterPushdown
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, j: RangeJoinPlan) =>
      // as in Catalyst's own pushdown: only conjuncts before the first
      // nondeterministic one may move
      val (candidates, nonDeterministic) =
        splitConjunctivePredicates(cond).span(_.deterministic)
      val (toLeft, rest) =
        candidates.partition(_.references.subsetOf(j.left.outputSet))
      val (toRight, kept0) =
        rest.partition(_.references.subsetOf(j.right.outputSet))
      val kept = kept0 ++ nonDeterministic
      if (toLeft.isEmpty && toRight.isEmpty) f
      else {
        val newLeft = toLeft.reduceOption(And)
          .map(Filter(_, j.left)).getOrElse(j.left)
        val newRight = toRight.reduceOption(And)
          .map(Filter(_, j.right)).getOrElse(j.right)
        val pushed = j.copy(left = newLeft, right = newRight)
        kept.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

object RangeJoinNative {

  /** Join `left` to every `right` row with equal key and
    * `loCol <= valueCol <= hiCol`, through the custom physical
    * operator. Output columns: all of `left` then all of `right`
    * (pre-project both sides — the custom node is opaque to Catalyst's
    * column pruning, so pruning happens by construction). */
  def rangeJoin(left: DataFrame, right: DataFrame,
                leftKey: String, rightKey: String,
                valueCol: String, loCol: String, hiCol: String): DataFrame = {
    val spark = left.sparkSession
    NativeStack.register(spark, RangeJoinStrategy, Some(RangeJoinFilterPushdown))
    val lPlan = CatalystBridge.analyzed(left)
    val rPlan0 = CatalystBridge.analyzed(right)
    // self-join lineage: re-alias the right side fresh (as the join
    // API itself deduplicates plans)
    val rPlan =
      if (rPlan0.output.exists(lPlan.outputSet.contains)) {
        import org.apache.spark.sql.catalyst.expressions.Alias
        import org.apache.spark.sql.catalyst.plans.logical.Project
        Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
      } else rPlan0
    def attr(plan: LogicalPlan, n: String): Attribute = {
      val resolver = spark.sessionState.conf.resolver
      plan.output.filter(a => resolver(a.name, n)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $n not in ${plan.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"column $n is ambiguous: ${many.size} matches in " +
            many.map(_.name).mkString(", "))
      }
    }
    CatalystBridge.ofRows(left, RangeJoinPlan(
      Seq(attr(lPlan, leftKey)), Seq(attr(rPlan, rightKey)),
      attr(lPlan, valueCol), attr(rPlan, loCol), attr(rPlan, hiCol),
      lPlan, rPlan))
  }
}
