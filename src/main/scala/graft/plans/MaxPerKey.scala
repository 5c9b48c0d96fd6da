package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Whole-operator Catalyst extension #2: rows-holding-the-group-extreme.
  *
  * The pattern — written directly, or produced by [[RewriteMaxSelfJoin]]
  * from the self-join form — is
  *
  *   max(v) OVER (PARTITION BY key) AS mx ... WHERE v = mx
  *
  * which Spark executes as a full shuffle of EVERY row on `key`, a full
  * per-partition sort under WindowExec, then the filter. This operator
  * keeps the pattern and swaps the execution, exactly like GroupTopK does
  * for row_number: [[RewriteMaxPerKey]] recognizes the Filter-over-Window
  * shape and plans
  *
  *   [[PartialMaxPerKeyExec]]  per input partition, per key: keep only the
  *                             rows TIED at the local extreme — the ties
  *                             analog of a bounded heap (usually 1 row per
  *                             key per partition crosses the shuffle);
  *   (Exchange on key)         from the final node's required distribution;
  *   [[FinalMaxPerKeyExec]]    per key: re-select the global extreme among
  *                             the survivors, emit them with the extreme
  *                             column appended under the window attribute.
  *
  * Semantics match the window+filter exactly:
  *   - ties: every row at the extreme is kept in both;
  *   - NULL v rows can never satisfy `v = mx`; the rewrite pushes
  *     IsNotNull(v) beneath the operator so they are dropped up front
  *     (and an all-NULL key group yields no rows, same as the filter);
  *   - NaN / -0.0: comparisons use Spark's SQL ordering (NaN equal to
  *     itself and greatest; UnsafeRow storage normalizes -0.0), the same
  *     semantics EqualTo and Max have;
  *   - the appended column equals the row's own `v` (they tie by
  *     definition), preserving the window attribute's id for downstream
  *     projections.
  *
  * Memory guard: like PartialGroupTopKExec, the key map flushes when it
  * exceeds `spark.graft.maxPerKey.maxKeysPerPartition` keys OR when
  * nBuffered rows exceed `spark.graft.maxPerKey.maxBufferedRows` (an
  * adversarial all-tied key would otherwise buffer a whole partition) —
  * a flush weakens pruning but never the answer: partial output only has
  * to be a superset of each key's true extreme rows. Kill switch
  * `spark.graft.maxPerKey.enabled` restores the window execution.
  *
  * Codegen-boundary audit (round 6 at sf0.1, warm-JVM 3-run medians;
  * rerun with `graft.Tool time q_max_join_elim
  * --conf spark.graft.maxPerKey.enabled=false`): q_max_join_elim runs
  * 0.36-0.37 s through this operator vs 0.58-0.64 s kill-switched to the
  * window path — the
  * mapPartitions codegen break is already subsumed by the single-scan +
  * tie-pruned-shuffle win even at local[32], and the margin widens in
  * any network-bound regime. CodegenSupport not implemented; see the
  * matching note in GroupTopK.scala for the trade.
  */
case class MaxPerKeyNode(
    groupExprs: Seq[Expression],
    value: Expression,
    isMax: Boolean,
    outAttr: Attribute,
    child: LogicalPlan) extends logical.UnaryNode {
  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override def maxRows: Option[Long] = child.maxRows
  /** Tie-aware survivor estimate: every row TYING its group's extreme
    * survives, so distinct-keys alone is NOT a bound (a constant value
    * column keeps the whole child — claiming |keys| rows there could
    * flip a downstream join to broadcasting a near-child-sized relation).
    * Estimate survivors ≈ rows · keys / pairs, where pairs = ndv of
    * (key, value): rows/pairs is the average multiplicity of one
    * (key, value) combination, i.e. the expected tie count at the
    * extreme. Exact at both poles — unique values → keys; constant value
    * per key → rows — and never below keys. No pair ndv ⇒ fall back to
    * the child's statistics (conservative). 8 extra bytes for the
    * appended extreme column.
    */
  override def stats: logical.Statistics = {
    val cs = child.stats
    val bound = (PlanStats.distinctKeys(groupExprs, cs),
        PlanStats.distinctKeys(groupExprs :+ value, cs), cs.rowCount) match {
      case (Some(k), Some(p), Some(n)) if p > 0 => Some(((n * k) / p).max(k))
      case _ => None
    }
    PlanStats.bounded(cs, bound, 8)
  }
  override protected def withNewChildInternal(newChild: LogicalPlan): MaxPerKeyNode =
    copy(child = newChild)
}

object RewriteMaxPerKey extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.maxPerKey.enabled", "true") == "true"

  /** The full-partition frame in either flavor (no-ORDER-BY windows
    * resolve to RANGE unbounded/unbounded; RewriteMaxSelfJoin emits ROWS).
    */
  private def isWholePartitionFrame(f: Expression): Boolean = f match {
    case SpecifiedWindowFrame(_, UnboundedPreceding, UnboundedFollowing) => true
    case _ => false
  }

  private def extremeOf(we: WindowExpression): Option[(Attribute, Boolean)] = we match {
    case WindowExpression(
        AggregateExpression(Max(v: Attribute), _, false, None, _),
        WindowSpecDefinition(_, _, frame)) if isWholePartitionFrame(frame) =>
      Some((v, true))
    case WindowExpression(
        AggregateExpression(Min(v: Attribute), _, false, None, _),
        WindowSpecDefinition(_, _, frame)) if isWholePartitionFrame(frame) =>
      Some((v, false))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case f @ logical.Filter(cond,
          w @ logical.Window(Seq(alias @ Alias(we: WindowExpression, _)), ps, _, child, _))
        if ps.nonEmpty && ps.forall(_.deterministic) && extremeOf(we).isDefined &&
          !w.isStreaming =>
        val (v, isMax) = extremeOf(we).get
        val mx = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        val isKeepExtreme: Expression => Boolean = {
          case EqualTo(a: Attribute, b: Attribute) =>
            (a.semanticEquals(v) && b.semanticEquals(mx)) ||
              (a.semanticEquals(mx) && b.semanticEquals(v))
          case _ => false
        }
        if (!conjuncts.exists(isKeepExtreme)) f
        else {
          val residual = conjuncts.filterNot(isKeepExtreme)
          // NULL v rows can never pass v = mx; dropping them below the
          // operator also makes an all-NULL group vanish, as it must
          val pre = logical.Filter(IsNotNull(v), child)
          val node = MaxPerKeyNode(ps, v, isMax, mx, pre)
          if (residual.isEmpty) node
          else logical.Filter(residual.reduce(And), node)
        }
    }
  }
}

object MaxPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case MaxPerKeyNode(g, v, isMax, out, child) =>
      FinalMaxPerKeyExec(g, v, isMax, out,
        PartialMaxPerKeyExec(g, v, isMax, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Shared per-partition extreme-ties selection: consume `iter`, keep per
  * key only rows tying the running extreme under `ord` (which sorts the
  * extreme FIRST), flushing per the memory guards. Emits survivors in no
  * particular order.
  */
private[plans] object MaxPerKeyScan {
  def prune(iter: Iterator[InternalRow],
            groupProj: UnsafeProjection,
            ord: Ordering[InternalRow],
            maxKeys: Int, maxRows: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var bufs = new java.util.HashMap[UnsafeRow, mutable.ArrayBuffer[InternalRow]]()
      private var nBuffered = 0
      private var cur: Iterator[InternalRow] = Iterator.empty
      private var done = false

      private def drain(): Iterator[InternalRow] = {
        import scala.jdk.CollectionConverters._
        val old = bufs
        bufs = new java.util.HashMap()
        nBuffered = 0
        old.values().iterator().asScala.flatMap(_.iterator)
      }

      private def refill(): Unit = {
        while (!cur.hasNext && !done) {
          if (!iter.hasNext) { cur = drain(); done = true }
          else {
            while (iter.hasNext && bufs.size < maxKeys && nBuffered < maxRows) {
              val row = iter.next()
              val key = groupProj(row)
              val buf = bufs.get(key)
              if (buf == null) {
                val b = mutable.ArrayBuffer.empty[InternalRow]
                b += row.copy()
                bufs.put(key.copy(), b)
                nBuffered += 1
              } else {
                val c = ord.compare(row, buf.head)
                if (c < 0) { // strictly better extreme: restart the buffer
                  nBuffered -= buf.size
                  buf.clear()
                  buf += row.copy()
                  nBuffered += 1
                } else if (c == 0) { // tie at the extreme: keep
                  buf += row.copy()
                  nBuffered += 1
                } // worse: drop
              }
            }
            if (bufs.size >= maxKeys || nBuffered >= maxRows) cur = drain()
          }
        }
      }

      override def hasNext: Boolean = { refill(); cur.hasNext }
      override def next(): InternalRow = { refill(); cur.next() }
    }

  def ordering(value: Expression, isMax: Boolean,
               childOutput: Seq[Attribute]): Ordering[InternalRow] =
    RowOrdering.create(Seq(SortOrder(value,
      if (isMax) Descending else Ascending)), childOutput)
}

/** Map-side prune: at most the tied-extreme rows per key per flush cross
  * the shuffle. No distribution requirement.
  */
case class PartialMaxPerKeyExec(
    groupExprs: Seq[Expression],
    value: Expression,
    isMax: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): PartialMaxPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val g = groupExprs
    val v = value
    val mx = isMax
    val childOutput = child.output
    val maxKeys = conf.getConfString(
      "spark.graft.maxPerKey.maxKeysPerPartition", "1048576").toInt
    val maxRows = conf.getConfString(
      "spark.graft.maxPerKey.maxBufferedRows", "4194304").toInt
    require(maxKeys > 0 && maxRows > 0, "maxPerKey guards must be positive")
    child.execute().mapPartitions({ iter =>
      val groupProj = GenerateUnsafeProjection.generate(
        BindReferences.bindReferences(g, childOutput))
      val ord = MaxPerKeyScan.ordering(v, mx, childOutput)
      MaxPerKeyScan.prune(iter, groupProj, ord, maxKeys, maxRows)
    }, preservesPartitioning = true)
  }
}

/** Per-key final selection after the pruned shuffle: the same tie-keeping
  * scan (now over each key's few survivors), emitting the extreme column
  * (= the row's own value) under the window attribute's id.
  */
case class FinalMaxPerKeyExec(
    groupExprs: Seq[Expression],
    value: Expression,
    isMax: Boolean,
    outAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupExprs.isEmpty) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): FinalMaxPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val g = groupExprs
    val v = value
    val mx = isMax
    val childOutput = child.output
    child.execute().mapPartitions({ iter =>
      val groupProj = GenerateUnsafeProjection.generate(
        BindReferences.bindReferences(g, childOutput))
      val ord = MaxPerKeyScan.ordering(v, mx, childOutput)
      // a reduce partition holds every survivor of its keys: one pass of
      // the identical tie-keeping scan yields exactly the global extremes
      val kept = MaxPerKeyScan.prune(iter, groupProj, ord, Int.MaxValue, Int.MaxValue)
      val outProj = GenerateUnsafeProjection.generate(
        BindReferences.bindReferences(childOutput :+ v, childOutput))
      kept.map(outProj)
    }, preservesPartitioning = false)
  }
}
