package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** Whole-operator Catalyst extension: group-wise top-k.
  *
  * The natural Spark formulation of "top k rows per key" is
  *
  *   row_number() OVER (PARTITION BY key ORDER BY o) AS rn ... WHERE rn <= k
  *
  * which Spark executes as a full shuffle of EVERY row on `key` followed by
  * a full per-partition sort — at 100 TB the shuffle carries the whole
  * corpus to produce k rows per key. This operator keeps the user-facing
  * pattern and swaps the execution: [[RewriteGroupTopK]] (optimizer rule)
  * recognizes the Filter-over-Window shape and replaces it with the
  * [[GroupTopKNode]] logical operator, which [[GroupTopKStrategy]] plans as
  *
  *   [[PartialGroupTopKExec]]  per input partition, per key: a bounded
  *                             k-row heap — map-side pruning, the top-k
  *                             analog of a partial aggregate;
  *   (Exchange on key)         inserted by EnsureRequirements from the
  *                             final node's required distribution — but it
  *                             now carries AT MOST k rows per (key, input
  *                             partition) instead of all rows;
  *   [[FinalGroupTopKExec]]    per key: sort the <= k*partitions survivors,
  *                             emit the first k with the rank column.
  *
  * Relationship to Spark's own InferWindowGroupLimit (3.5+): the built-in
  * rule also prunes to k per key on both shuffle sides, but keeps the
  * Window machinery — a FULL per-partition sort below each
  * WindowGroupLimitExec, then WindowExec's buffered rank evaluation and a
  * Filter. GroupTopK replaces all of that: the map side is a bounded heap
  * (O(n log k), no partition sort), the reduce side sorts only each key's
  * <= k*partitions survivors and emits ranks directly. The rewrite strips
  * the redundant logical WindowGroupLimit when it has already been
  * inserted, so exactly one pruning strategy executes.
  *
  * Semantics match the window form exactly when the window order is a
  * total order (all oracled queries here). Under order ties, row_number is
  * input-order-dependent in BOTH executions — the rewrite is never *more*
  * nondeterministic. Safety guards: deterministic partition/order
  * expressions only, non-empty PARTITION BY (global top-k is
  * TakeOrderedAndProject's job), k bounded by spark.graft.groupTopK.maxK
  * (the per-key heap is memory), kill switch spark.graft.groupTopK.enabled.
  *
  * Codegen-boundary audit (round 6 at sf0.1, warm-JVM 3-run medians,
  * while q_topk_per_segment still ranked with row_number; it now uses
  * rank() and keeps the window path, so an A/B today needs a row_number
  * consumer, e.g. `graft.Tool time q_min_price_per_part
  * --conf spark.graft.groupTopK.enabled=false`): the Partial/Final execs
  * run `mapPartitions` over InternalRow, breaking whole-stage codegen at
  * their boundary.
  * q_topk_per_segment measures operator 0.35-0.37 s vs kill-switched
  * window 0.29-0.30 s — the break + per-row iterator cost ~60-70 ms and
  * the shuffle-volume savings are invisible at local[32], where the
  * whole shuffle is in-memory. The operator exists for the
  * network-bound regime (shuffle rows drop from n to <= keys*k per
  * partition); the stock path it replaces (WindowExec) is itself not a
  * CodegenSupport operator, so a CodegenSupport implementation here
  * would only reclaim the ~20% fixture-scale CPU overhead at the cost
  * of a HashAggregate-style blocking-codegen operator. Decision:
  * recorded, not implemented — revisit only if a profile shows the
  * boundary dominating at a real shuffle-bound scale.
  */
case class GroupTopKNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: LogicalPlan) extends logical.UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  /** ≤ k rows per key survive — see [[PlanStats]] for why `stats` (not
    * `computeStats`) is the override point and where the distinct-key
    * estimate comes from. 8 extra bytes for the appended rank column.
    */
  override def stats: logical.Statistics =
    PlanStats.bounded(child.stats,
      PlanStats.distinctKeys(groupExprs, child.stats).map(_ * k), 8)
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopKNode =
    copy(child = newChild)
}

object RewriteGroupTopK extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.groupTopK.enabled", "true") == "true"
  private def maxK: Int =
    SQLConf.get.getConfString("spark.graft.groupTopK.maxK", "1024").toInt

  /** rn-vs-literal conjunct -> effective k (None = not a rank bound). */
  private def boundOf(e: Expression, rn: Attribute): Option[Int] = e match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, IntegerLiteral(v)) if a.semanticEquals(rn) => Some(v - 1)
    case GreaterThanOrEqual(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case GreaterThan(IntegerLiteral(v), a: Attribute) if a.semanticEquals(rn) => Some(v - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rn) => Some(1)
    case EqualTo(IntegerLiteral(1), a: Attribute) if a.semanticEquals(rn) => Some(1)
    case _ => None
  }

  private def isRowNumberOverRows(we: WindowExpression): Boolean = we match {
    case WindowExpression(_: RowNumber, WindowSpecDefinition(_, _, _)) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case f @ logical.Filter(cond,
          logical.Window(Seq(alias @ Alias(we: WindowExpression, _)), ps, os, child, _))
        if isRowNumberOverRows(we) && ps.nonEmpty && os.nonEmpty &&
          ps.forall(_.deterministic) && os.forall(_.deterministic) =>
        val rn = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        val ks = conjuncts.flatMap(boundOf(_, rn))
        if (ks.isEmpty || ks.min < 1 || ks.min > maxK) {
          // no usable rank bound (or an unbounded/huge one) — leave the
          // window execution in place
          f
        } else {
          val k = ks.min
          val residual = conjuncts.filter(boundOf(_, rn).isEmpty)
          // Spark's own InferWindowGroupLimit (3.5+) has usually already
          // slid a logical WindowGroupLimit prune under the Window by the
          // time this rule runs; GroupTopK subsumes it (same prune, heap
          // instead of per-partition sort), so strip it rather than
          // pruning twice
          val realChild = child match {
            case logical.WindowGroupLimit(_, _, _, limit, gc) if limit >= k => gc
            case other => other
          }
          val node = GroupTopKNode(ps, os, k, rn, realChild)
          if (residual.isEmpty) node
          else logical.Filter(residual.reduce(And), node)
        }
    }
  }
}

object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupTopKNode(g, o, k, rank, child) =>
      FinalGroupTopKExec(g, o, k, rank,
        PartialGroupTopKExec(g, o, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Map-side per-key bounded heap: emits at most k rows per key per input
  * partition FLUSH, in no particular order. No distribution requirement —
  * runs wherever the child's data already is.
  *
  * Memory guard (skew / high key cardinality): the heap map holds up to
  * (#distinct keys in the partition) x (k rows + one key) — with millions
  * of near-unique keys per partition that approximates the entire input
  * resident in memory, where the window execution would have spilled its
  * sort instead. When the map exceeds
  * `spark.graft.groupTopK.maxKeysPerPartition` keys (default 1,048,576 —
  * at k<=3 and ~100-byte rows that caps the map near ~0.5 GB), the
  * operator FLUSHES: emits every buffered heap downstream and starts an
  * empty map. A flush weakens the prune (a key may send up to k rows per
  * flush instead of k per partition) but can never change the answer —
  * the partial output only has to be a superset of each key's true
  * per-partition top-k, and [[FinalGroupTopKExec]] re-selects after the
  * shuffle. Memory is thus bounded regardless of key distribution, and
  * the degradation is gradual: pruning stays perfect until the threshold,
  * then decays toward a pass-through (still never worse than what the
  * window form shuffles).
  */
case class PartialGroupTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): PartialGroupTopKExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val g = groupExprs
    val o = order
    val kk = k
    val childOutput = child.output
    val maxKeys = conf.getConfString(
      "spark.graft.groupTopK.maxKeysPerPartition", "1048576").toInt
    require(maxKeys > 0, "spark.graft.groupTopK.maxKeysPerPartition must be positive")
    child.execute().mapPartitions({ iter =>
      import scala.jdk.CollectionConverters._
      val groupProj = GenerateUnsafeProjection.generate(
        BindReferences.bindReferences(g, childOutput))
      val ord = RowOrdering.create(o, childOutput)
      new Iterator[InternalRow] {
        // max-heap per key under the sort order: head is the WORST kept
        // row, evicted when a better one arrives — classic bounded top-k
        private var heaps = new java.util.HashMap[UnsafeRow, mutable.PriorityQueue[InternalRow]]()
        private var cur: Iterator[InternalRow] = Iterator.empty
        private var done = false

        private def drain(): Iterator[InternalRow] = {
          val old = heaps
          heaps = new java.util.HashMap()
          old.values().iterator().asScala.flatMap(_.iterator)
        }

        private def refill(): Unit = {
          while (!cur.hasNext && !done) {
            if (!iter.hasNext) { cur = drain(); done = true }
            else {
              while (iter.hasNext && heaps.size < maxKeys) {
                val row = iter.next()
                val key = groupProj(row)
                var heap = heaps.get(key)
                if (heap == null) {
                  heap = mutable.PriorityQueue.empty[InternalRow](ord)
                  heaps.put(key.copy(), heap)
                }
                if (heap.size < kk) heap.enqueue(row.copy())
                else if (ord.compare(row, heap.head) < 0) {
                  heap.dequeue()
                  heap.enqueue(row.copy())
                }
              }
              if (heaps.size >= maxKeys) cur = drain()
            }
          }
        }

        override def hasNext: Boolean = { refill(); cur.hasNext }
        override def next(): InternalRow = { refill(); cur.next() }
      }
    }, preservesPartitioning = true)
  }
}

/** Per-key final selection after the (now k-bounded) shuffle: sort each
  * key's survivors, emit the first k with the 1-based rank appended under
  * the original window attribute.
  */
case class FinalGroupTopKExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupExprs.isEmpty) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  override protected def withNewChildInternal(newChild: SparkPlan): FinalGroupTopKExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val g = groupExprs
    val o = order
    val kk = k
    val childOutput = child.output
    val outAttrs = output
    child.execute().mapPartitions({ iter =>
      val groupProj = GenerateUnsafeProjection.generate(
        BindReferences.bindReferences(g, childOutput))
      val ord = RowOrdering.create(o, childOutput)
      val groups = new java.util.LinkedHashMap[UnsafeRow, mutable.ArrayBuffer[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = groupProj(row)
        var buf = groups.get(key)
        if (buf == null) {
          buf = mutable.ArrayBuffer.empty[InternalRow]
          groups.put(key.copy(), buf)
        }
        buf += row.copy()
      }
      val outProj = GenerateUnsafeProjection.generate(
        BindReferences.bindReferences(outAttrs, outAttrs))
      val joined = new JoinedRow
      val rankRow = new GenericInternalRow(1)
      import scala.jdk.CollectionConverters._
      groups.values().iterator().asScala.flatMap { buf =>
        val sorted = buf.sorted(ord).iterator.take(kk)
        sorted.zipWithIndex.map { case (row, i) =>
          rankRow.update(0, i + 1)
          outProj(joined(row, rankRow))
        }
      }
    }, preservesPartitioning = false)
  }
}
