package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, Expression,
  GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.CatalystBridge

/** The third whole-operator custom-plan path (after [[AsofJoinNative]]
  * and [[RangeJoinNative]]): native LSH band-pair enumeration — the
  * highest-volume join of the dedup tier. The composed shape
  * (`Dedup.lshCandidatePairs`) is a SELF-join of the banded signature
  * table on (band, bsig) with `x.id < y.id`: Spark plans it as two
  * Exchanges of the SAME data (one per join alias), two sorts, and a
  * sort-merge join that materializes each bucket twice. This node is
  * UNARY: the banded table is shuffled ONCE on its (band, bsig) bucket
  * key — declared via `requiredChildDistribution`, so EnsureRequirements
  * owns (and can reuse) the Exchange — sorted (band, bsig, id) within
  * partitions, and a single streaming pass emits each bucket's
  * ordered pairs (a < b falls out of the id sort order, no residual
  * filter). Memory is one bucket's ids — k longs, not the sort-merge
  * join's buffered bucket of full rows — and pairs stream out lazily,
  * so a hot bucket's k²/2 candidates never sit in memory at once. At
  * 100 TB this halves the shuffled bytes of the dedup tier's biggest
  * stage and removes its largest sort.
  *
  * Cross-band duplicate candidates (two docs agreeing in several
  * bands) are the caller's `.distinct()`, exactly as in the composed
  * pipeline — dedup across buckets is a global decision no
  * bucket-local operator can make.
  *
  * Reference behavior: muyu42/DataS dedups its instruction pool before
  * selection (`main.py:402-482` operates on the curated corpus);
  * minhash banding is the standard public technique for doing that at
  * corpus scale (Broder; Leskovec et al., MMDS ch. 3).
  */
case class LshBandPairsPlan(
    band: Expression, bsig: Expression, docId: Expression,
    outA: Attribute, outB: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = Seq(outA, outB)
  override def producedAttributes: AttributeSet = AttributeSet(Seq(outA, outB))
  override protected def withNewChildInternal(
      newChild: LogicalPlan): LshBandPairsPlan = copy(child = newChild)
}

/** One clustered-sorted pass: rows with a null bucket key or null id
  * are skipped (SQL join semantics — NULL never equi-matches), equal
  * ids inside a bucket never pair with themselves (the `<` of the
  * composed join). */
case class LshBandPairsExec(
    band: Expression, bsig: Expression, docId: Expression,
    outA: Attribute, outB: Attribute,
    child: SparkPlan) extends SparkPlan with UnaryExecNode {

  override def output: Seq[Attribute] = Seq(outA, outB)
  override def producedAttributes: AttributeSet = AttributeSet(Seq(outA, outB))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(band, bsig)) :: Nil

  /** id as a secondary sort key: ascending ids inside a bucket make
    * pair order (a < b) positional — no comparison per emitted pair. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Seq(
    SortOrder(band, Ascending), SortOrder(bsig, Ascending),
    SortOrder(docId, Ascending)))

  override protected def withNewChildInternal(
      newChild: SparkPlan): LshBandPairsExec = copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = Seq(band, bsig)
    val idExpr = docId
    val idType = docId.dataType
    val inSchema = child.output
    val outSchema = output
    val isLong = idType == org.apache.spark.sql.types.LongType
    child.execute().mapPartitions({ iter =>
      if (isLong) longPairsIterator(iter, keyExprs, idExpr, inSchema)
      else genericPairsIterator(iter, keyExprs, idExpr, idType, inSchema, outSchema)
    }, preservesPartitioning = true)
  }

  /** Primitive-long fast path — the shape every registered dedup query
    * runs (doc_id: bigint). The quadratic regime (hot buckets of
    * near-identical docs) is pair-EMISSION-bound, so the hot loop must
    * not box: ids buffer in an Array[Long], comparisons are primitive,
    * and pairs are written through a reused UnsafeRowWriter exactly as
    * codegen'd operators emit (downstream shuffle writers serialize
    * each row before the next `next()`). */
  private def longPairsIterator(
      iter: Iterator[InternalRow], keyExprs: Seq[Expression],
      idExpr: Expression,
      inSchema: Seq[Attribute]): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keyExprs, inSchema)
    val idProj = UnsafeProjection.create(Seq(idExpr), inSchema)
    val writer = new org.apache.spark.sql.catalyst.expressions.codegen
      .UnsafeRowWriter(2)

    var headKey: InternalRow = null
    var headId = 0L
    def advance(): Unit = {
      headKey = null
      while (headKey == null && iter.hasNext) {
        val row = iter.next()
        val k = keyProj(row)
        if (!k.isNullAt(0) && !k.isNullAt(1)) {
          val idv = idProj(row)
          if (!idv.isNullAt(0)) { headKey = k.copy(); headId = idv.getLong(0) }
        }
      }
    }
    advance()

    new Iterator[InternalRow] {
      private var ids = new Array[Long](16)
      private var n = 0
      private var i = 0
      private var j = 1

      private def loadNextBucket(): Unit = {
        while (headKey != null) {
          val k0 = headKey
          n = 0
          while (headKey != null && headKey == k0) { // UnsafeRow equals = bytes
            if (n == ids.length) ids = java.util.Arrays.copyOf(ids, n * 2)
            ids(n) = headId; n += 1
            advance()
          }
          if (n >= 2) { i = 0; j = 1; return }
        }
        n = 0; i = 0; j = 1
      }

      private def positioned(): Boolean = {
        while (true) {
          while (i < n - 1) {
            // skip self-pairs of duplicate ids (strict < in the join);
            // ids are sorted, so equal ids are adjacent
            while (j < n && ids(i) == ids(j)) j += 1
            if (j < n) return true
            i += 1; j = i + 1
          }
          if (headKey == null) return false
          loadNextBucket()
          if (n == 0) return false
        }
        false
      }

      override def hasNext: Boolean = positioned()
      override def next(): InternalRow = {
        if (!positioned()) throw new NoSuchElementException
        writer.reset()
        writer.write(0, ids(i))
        writer.write(1, ids(j))
        j += 1
        if (j >= n) { i += 1; j = i + 1 }
        writer.getRow
      }
    }
  }

  /** Generic path for non-long id types (string keys, decimals):
    * boxed buffer + interpreted ordering. */
  private def genericPairsIterator(
      iter: Iterator[InternalRow], keyExprs: Seq[Expression],
      idExpr: Expression, idType: org.apache.spark.sql.types.DataType,
      inSchema: Seq[Attribute],
      outSchema: Seq[Attribute]): Iterator[InternalRow] = {
    {
      val keyProj = UnsafeProjection.create(keyExprs, inSchema)
      val idProj = UnsafeProjection.create(Seq(idExpr), inSchema)
      val resultProj = UnsafeProjection.create(outSchema, outSchema)
      val idOrd = TypeUtils.getInterpretedOrdering(idType)
      val pairRow = new GenericInternalRow(2)

      // next valid (non-null key/id) row, key+id copied out of the
      // projections' reused buffers
      var headKey: InternalRow = null
      var headId: Any = null
      def advance(): Unit = {
        headKey = null; headId = null
        while (headKey == null && iter.hasNext) {
          val row = iter.next()
          val k = keyProj(row)
          if (!k.isNullAt(0) && !k.isNullAt(1)) {
            val idv = idProj(row)
            if (!idv.isNullAt(0)) {
              headKey = k.copy(); headId = idv.copy().get(0, idType)
            }
          }
        }
      }
      advance()

      new Iterator[InternalRow] {
        // current bucket's ids, ascending (the child ordering)
        private var ids: Array[Any] = Array.empty
        private var i = 0 // pair cursor: a = ids(i)
        private var j = 1 //              b = ids(j)

        private def loadNextBucket(): Unit = {
          while (headKey != null) {
            val k0 = headKey
            val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
            while (headKey != null && headKey == k0) { // UnsafeRow equals = bytes
              buf += headId
              advance()
            }
            if (buf.length >= 2) { ids = buf.toArray; i = 0; j = 1; return }
          }
          ids = Array.empty; i = 0; j = 1
        }

        private def positioned(): Boolean = {
          while (true) {
            while (i < ids.length - 1) {
              // skip self-pairs of duplicate ids (strict < in the join);
              // ids are sorted, so equal ids are adjacent
              while (j < ids.length && idOrd.compare(ids(i), ids(j)) == 0) j += 1
              if (j < ids.length) return true
              i += 1; j = i + 1
            }
            if (headKey == null) return false
            loadNextBucket()
            if (ids.isEmpty) return false
          }
          false
        }

        override def hasNext: Boolean = positioned()
        override def next(): InternalRow = {
          if (!positioned()) throw new NoSuchElementException
          pairRow.update(0, ids(i))
          pairRow.update(1, ids(j))
          j += 1
          if (j >= ids.length) { i += 1; j = i + 1 }
          resultProj(pairRow)
        }
      }
    }
  }
}

/** Plans [[LshBandPairsPlan]] to [[LshBandPairsExec]]. */
object LshBandPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LshBandPairsPlan(band, bsig, docId, a, b, child) =>
      LshBandPairsExec(band, bsig, docId, a, b, planLater(child)) :: Nil
    case _ => Nil
  }
}

object LshBandJoinNative {

  /** All intra-bucket id pairs (id_a < id_b) of `banded(bandCol,
    * bsigCol, idCol)` through the custom unary operator — the native
    * replacement for `banded JOIN banded ON (band, bsig)`. The caller
    * applies `.distinct()` for cross-band duplicates, as with the
    * composed join. The child is pre-projected to the three columns —
    * the node is opaque to Catalyst's column pruning, so pruning
    * happens by construction. */
  def bandPairs(banded: DataFrame, bandCol: String, bsigCol: String,
                idCol: String): DataFrame = {
    NativeStack.register(banded.sparkSession, LshBandPairsStrategy)
    val plan = CatalystBridge.analyzed(
      banded.select(bandCol, bsigCol, idCol))
    val Seq(band, bsig, id) = plan.output
    CatalystBridge.ofRows(banded, LshBandPairsPlan(
      band, bsig, id,
      AttributeReference("id_a", id.dataType, nullable = false)(),
      AttributeReference("id_b", id.dataType, nullable = false)(),
      plan))
  }
}
