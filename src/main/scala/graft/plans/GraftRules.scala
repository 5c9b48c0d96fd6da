package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Abs, Add, Alias, ArrayAggregate, Attribute, AttributeReference, Cast, CreateArray, EqualTo, Explode, Expression, GreaterThan, GreaterThanOrEqual, IntegralDivide, LambdaFunction, LessThan, LessThanOrEqual, Literal, Multiply, NamedLambdaVariable, PredicateHelper, Subtract, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.functions.DotProductD

/** Catalyst optimizer rule: rewrite the naive higher-order-function dot
  * product
  *
  *   aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)
  *
  * into the codegen'd [[DotProductD]]. The HOF form is what a user
  * naturally writes, but Spark evaluates lambda HOFs interpreted — ~10x
  * slower on 64-dim vectors (see DotProductD scaladoc). The shapes are
  * semantically identical on EVERY input: both are a left-to-right double
  * fold of pairwise products, and DotProductD reproduces the HOF's NULL
  * behavior (mismatched lengths and NULL elements both yield NULL), so the
  * rewrite is safe on arrays whose element type is nullable
  * (containsNull=true) — RuleSpec locks this.
  *
  * Fires only on the exact shape (multiply inside zip_with, 0.0 init, add
  * fold, double arrays) — anything else is left untouched.
  */
object RewriteHofDotProduct extends Rule[LogicalPlan] {

  private object DoubleArrays {
    def unapply(e: Expression): Option[Expression] = e.dataType match {
      case t: org.apache.spark.sql.types.ArrayType if t.elementType == DoubleType => Some(e)
      case _ => None
    }
  }

  /** The multiply must use ONE variable from EACH zip_with argument —
    * (x,y)->x*y or (x,y)->y*x. Same-variable products like (x,y)->x*x are
    * sums of squares of one side, NOT a dot product, and must not match.
    */
  private def isCrossProduct(x: NamedLambdaVariable, y: NamedLambdaVariable,
                             lhs: Expression, rhs: Expression): Boolean =
    (lhs, rhs) match {
      case (l: NamedLambdaVariable, r: NamedLambdaVariable) =>
        (l.exprId == x.exprId && r.exprId == y.exprId) ||
          (l.exprId == y.exprId && r.exprId == x.exprId)
      case _ => false
    }

  private def isFold(acc: NamedLambdaVariable, v: NamedLambdaVariable,
                     lhs: Expression, rhs: Expression): Boolean =
    (lhs, rhs) match {
      case (l: NamedLambdaVariable, r: NamedLambdaVariable) =>
        (l.exprId == acc.exprId && r.exprId == v.exprId) ||
          (l.exprId == v.exprId && r.exprId == acc.exprId)
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
        ZipWith(DoubleArrays(a), DoubleArrays(b),
          LambdaFunction(Multiply(x1, y1, _), Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
        Literal(0.0, DoubleType),
        LambdaFunction(Add(accRef, vRef, _), Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _),
        finish)
      if isCrossProduct(x, y, x1, y1) && isFold(acc, v, accRef, vRef) &&
        isIdentityFinish(finish) =>
      DotProductD(a, b)
  }

  /** aggregate()'s finish lambda must be the identity (id -> id) for the
    * rewrite to be value-preserving.
    */
  private def isIdentityFinish(finish: Expression): Boolean = finish match {
    case LambdaFunction(body: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      body.exprId == arg.exprId
    case _ => false
  }
}

/** Catalyst optimizer rule: rewrite a pure band join
  *
  *   L JOIN R ON abs(L.c - R.c) <= w                 (or < w)
  *   L JOIN R ON R.c BETWEEN L.c - w1 AND L.c + w2   (incl. asymmetric /
  *   L JOIN R ON L.c - R.c <= w2 AND L.c - R.c >= w1  shifted windows —
  *                                any two-sided difference constraint)
  *
  * — which Catalyst can only execute as a nested loop (BNLJ/cartesian:
  * nothing to hash on; the per-pair predicate is the classic 100 TB scale
  * killer) — into the binned equi-join [[graft.operators.Joins.rangeJoin]]
  * builds by hand: bin both sides into width-w buckets of the band column
  * (truncating `div`), explode the SMALLER side into {bin-1, bin, bin+1},
  * equi-join on the bin, and re-apply the exact original predicate as a
  * residual filter.
  *
  * Completeness: every bin spans >= w consecutive integers (the
  * zero-straddling truncation bin spans 2w-1), so two values within w of
  * each other sit at most one bin apart — for ANY longs, negative
  * included. Each candidate pair meets exactly once (the non-exploded
  * side keeps a single bin). The residual filter makes the rewrite
  * value-preserving; NULL band values produce a NULL bin, which an
  * equi-join never matches — identical to the original predicate
  * evaluating to NULL. BandJoinSpec locks plan shape + result parity
  * (including duplicates) against the kill-switched plan.
  *
  * Guards: INNER join only; the band expressions must each reference
  * exactly one input and be deterministic; integral types only
  * (timestamp/double bands don't `div` exactly); fires only when the
  * condition has NO equi conjunct (with one, Catalyst already hash-joins
  * and the band is a cheap post-filter); merged width >= 1 (two-sided
  * bounds from separate conjuncts are intersected per column pair, strict
  * bounds tightened by one — exact on integers; for a shifted band
  * lo..hi the bin width is max(|lo|, |hi|), which still satisfies the
  * one-bin-apart invariant since every matching pair has
  * |difference| <= that width). One documented
  * divergence: a pair whose difference OVERFLOWS Long and wraps into
  * [-w, w] "matches" the naive non-ANSI plan but is not generated as a
  * candidate here (under ANSI the original query throws instead) — at
  * band widths vs 2^63 magnitudes this needs adversarial inputs, and the
  * kill switch `spark.graft.bandJoin.enabled` restores the naive plan.
  */
object RewriteBandJoin extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.bandJoin.enabled", "true") == "true"

  private object IntLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case Literal(v: Short, org.apache.spark.sql.types.ShortType) => Some(v.toLong)
      case Literal(v: Byte, org.apache.spark.sql.types.ByteType) => Some(v.toLong)
      case _ => None
    }
  }

  private def integral(x: Expression): Boolean = x.dataType match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         IntegerType | LongType => true
    case _ => false
  }

  /** One conjunct as difference bounds: Some((x, y, lo, hi)) meaning the
    * conjunct implies lo <= x - y <= hi (None = that end unconstrained).
    * Matches the abs form, the explicit-difference form
    * `(x - y) <=/< w`, the offset forms `x <=/< y + w`, `x >=/> y - w`
    * (what BETWEEN expands to), and the bare `x <= y`. Strict bounds
    * tighten by 1 — exact on integral domains.
    */
  private def boundsOf(e: Expression)
      : Option[(Expression, Expression, Option[Long], Option[Long])] = {
    // e = core + offset, with offset a literal
    def split(x: Expression): (Expression, Long) = x match {
      case Add(c, IntLit(w), _) => (c, w)
      case Add(IntLit(w), c, _) => (c, w)
      case Subtract(c, IntLit(w), _) => (c, -w)
      case _ => (x, 0L)
    }
    // canonical a <= b (+ strictness)
    val le: Option[(Expression, Expression, Boolean)] = e match {
      case LessThanOrEqual(a, b) => Some((a, b, false))
      case LessThan(a, b) => Some((a, b, true))
      case GreaterThanOrEqual(a, b) => Some((b, a, false))
      case GreaterThan(a, b) => Some((b, a, true))
      case _ => None
    }
    le.flatMap { case (a, b, strict) =>
      def adj(w: Long) = if (strict) w - 1 else w
      (a, b) match {
        // |x - y| <= w
        case (Abs(Subtract(x, y, _), _), IntLit(w)) =>
          Some((x, y, Some(-adj(w)), Some(adj(w))))
        // (x - y) <= w
        case (Subtract(x, y, _), IntLit(w)) => Some((x, y, None, Some(adj(w))))
        // w <= (x - y)
        case (IntLit(w), Subtract(x, y, _)) =>
          Some((x, y, Some(if (strict) w + 1 else w), None))
        // (x + oa) <= (y + ob)  ⟺  x - y <= ob - oa   (covers bare x <= y)
        case _ =>
          val (ca, oa) = split(a)
          val (cb, ob) = split(b)
          if (ca.foldable || cb.foldable) None
          else Some((ca, cb, None, Some(adj(ob - oa))))
      }
    }
  }

  /** All complete bands in the condition between plans `l` and `r`:
    * (lExpr, rExpr, W) with every matching pair satisfying
    * |lExpr - rExpr| <= W. Bounds from separate conjuncts on the same
    * (x, y) pair are intersected, so BETWEEN-style two-conjunct windows
    * (including asymmetric and shifted ones) qualify.
    */
  private def bandsOf(conjuncts: Seq[Expression], l: LogicalPlan, r: LogicalPlan)
      : Seq[(Expression, Expression, Long)] = {
    // orient so x is from l: flipping the pair negates and swaps bounds
    val oriented = conjuncts.flatMap(boundsOf).flatMap { case (x, y, lo, hi) =>
      if (!integral(x) || !integral(y) || !x.deterministic || !y.deterministic) None
      else if (x.references.subsetOf(l.outputSet) && x.references.nonEmpty &&
        y.references.subsetOf(r.outputSet) && y.references.nonEmpty)
        Some(((x.canonicalized, y.canonicalized), (x, y, lo, hi)))
      else if (x.references.subsetOf(r.outputSet) && x.references.nonEmpty &&
        y.references.subsetOf(l.outputSet) && y.references.nonEmpty)
        Some(((y.canonicalized, x.canonicalized), (y, x, hi.map(-_), lo.map(-_))))
      else None
    }
    oriented.groupBy(_._1).values.toSeq.flatMap { grp =>
      val (x, y, _, _) = grp.head._2
      val los = grp.flatMap(_._2._3)
      val his = grp.flatMap(_._2._4)
      if (los.isEmpty || his.isEmpty) None
      else {
        val (lo, hi) = (los.max, his.min)
        val w = math.max(math.abs(lo), math.abs(hi))
        // lo > hi = always-false predicate (leave the naive plan to emit
        // its empty result); w == 0 = an equality in disguise
        if (lo > hi || w < 1) None else Some((x, y, w))
      }
    }
  }

  private def hasEquiConjunct(conjuncts: Seq[Expression],
                              l: LogicalPlan, r: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet)) ||
          (b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet))
      case _ => false
    }

  private def binExpr(c: Expression, w: Long): Expression =
    IntegralDivide(Cast(c, LongType), Literal(w))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      // streaming joins excluded: Spark's stream-stream interval-join
      // machinery consumes the raw range condition for watermark state
      // cleanup — rewriting it away would trade a supported plan for an
      // unsupported one
      case j @ logical.Join(left, right, org.apache.spark.sql.catalyst.plans.Inner,
          Some(cond), hint) if !j.isStreaming && {
        val cs = splitConjunctivePredicates(cond)
        !hasEquiConjunct(cs, left, right) && bandsOf(cs, left, right).nonEmpty
      } =>
        val conjuncts = splitConjunctivePredicates(cond)
        // tightest band if several column pairs qualify
        val (lExpr, rExpr, w) = bandsOf(conjuncts, left, right).minBy(_._3)
        // explode the smaller side: 3 bin rows per input row there, one on
        // the big side (sizeInBytes is the same signal AQE's broadcast
        // decisions start from)
        val explodeLeft = left.stats.sizeInBytes <= right.stats.sizeInBytes
        val (expSide, expExpr, oneSide, oneExpr) =
          if (explodeLeft) (left, lExpr, right, rExpr)
          else (right, rExpr, left, lExpr)
        val base = binExpr(expExpr, w)
        val gen = Explode(CreateArray(Seq(
          Subtract(base, Literal(1L)), base, Add(base, Literal(1L)))))
        val binAttr = AttributeReference("_graft_band_bin", LongType)()
        val exploded = logical.Generate(gen, unrequiredChildIndex = Nil,
          outer = false, qualifier = None,
          generatorOutput = Seq(binAttr), child = expSide)
        val oneBin = Alias(binExpr(oneExpr, w), "_graft_band_bin_o")()
        val projected = logical.Project(oneSide.output :+ oneBin, oneSide)
        val (newL, newR) =
          if (explodeLeft) (exploded, projected) else (projected, exploded)
        val joined = logical.Join(newL, newR, org.apache.spark.sql.catalyst.plans.Inner,
          Some(EqualTo(binAttr, oneBin.toAttribute)), hint)
        logical.Project(j.output, logical.Filter(cond, joined))
    }
  }
}

/** Catalyst optimizer rule: SELF-JOIN ELIMINATION for the keep-the-extreme
  * pattern. The SQL a user naturally writes for "rows holding their
  * group's max" is a join back against a grouped aggregate:
  *
  *   SELECT t.*, m.mx
  *   FROM t JOIN (SELECT k, max(v) AS mx FROM t GROUP BY k) m
  *     ON t.k = m.k AND t.v = m.mx
  *
  * Stock Spark executes that as TWO scans of `t` plus an aggregate and a
  * join — at 100 TB, two full passes and two shuffles where one suffices.
  * This rule detects the shape (the aggregate child `sameResult`-equal to
  * the probe side, exactly one non-distinct unfiltered MAX/MIN over a
  * column, every grouping key equi-joined to its own probe-side column,
  * the extreme equi-joined to its own source column, inner join, no
  * hints) and rewrites to one pass:
  *
  *   Project(t.* ++ re-aliased agg outputs)
  *     Filter(v = max(v) OVER (PARTITION BY k)  [AND k IS NOT NULL ...])
  *       Window(max(v) over k)(t)
  *
  * Semantics preserved exactly:
  *   - join multiplicity is 1 (the agg side is unique per key) = the
  *     window filter's keep-or-drop;
  *   - NULL extremes never satisfy `v = mx` on either plan;
  *   - rows with a NULL grouping key are dropped by the join's
  *     null-rejecting equality, so the rewrite adds IS NOT NULL for each
  *     nullable key (window partitions would otherwise keep the NULL
  *     group);
  *   - ties all match in both plans;
  *   - output attribute ids and order are preserved by re-aliasing the
  *     aggregate's outputs onto probe-side columns / the window extreme.
  *
  * Kill switch `spark.graft.maxJoinElim.enabled` restores the naive plan
  * (MaxJoinElimSpec locks result parity between the two).
  */
object RewriteMaxSelfJoin extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    SQLConf.get.getConfString("spark.graft.maxJoinElim.enabled", "true") == "true"

  import org.apache.spark.sql.catalyst.expressions.{And, ExprId, IsNotNull, KnownFloatingPointNormalized, NamedExpression, WindowExpression, WindowSpecDefinition, SpecifiedWindowFrame, RowFrame, UnboundedPreceding, UnboundedFollowing}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, Max, Min, Sum}
  import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
  import org.apache.spark.sql.catalyst.plans.Inner
  import org.apache.spark.sql.catalyst.plans.logical.JoinHint

  /** The aggregate side, tolerating an inferred `IsNotNull` filter over the
    * aggregate's own outputs (InferFiltersFromConstraints derives one from
    * the join's null-rejecting equality; it is implied again by the
    * rewritten plan's filters).
    */
  private object AggSide {
    def unapply(p: LogicalPlan): Option[logical.Aggregate] = p match {
      case a: logical.Aggregate => Some(a)
      case logical.Filter(cond, a: logical.Aggregate)
          if splitConjunctivePredicates(cond).forall {
            case IsNotNull(attr: Attribute) => a.outputSet.contains(attr)
            case _ => false
          } => Some(a)
      case _ => None
    }
  }

  /** NormalizeFloatingNumbers wraps double/float join keys; the wrappers
    * are value-preserving for equality under Spark's SQL semantics
    * (NaN = NaN is true, -0.0 = 0.0 is true — the same semantics plain
    * EqualTo has in a Filter), so matching unwraps them.
    */
  private def unwrapNorm(e: Expression): Expression = e match {
    case KnownFloatingPointNormalized(inner) => unwrapNorm(inner)
    case NormalizeNaNAndZero(inner) => unwrapNorm(inner)
    case other => other
  }

  /** Strip pure column-selection Projects and collect Filter conjuncts,
    * returning the residual core plan. Attribute ids survive both.
    */
  private def strip(p: LogicalPlan): (LogicalPlan, Seq[Expression]) = p match {
    case logical.Project(projList, child) if projList.forall(_.isInstanceOf[Attribute]) =>
      strip(child)
    case logical.Filter(cond, child) =>
      val (c, fs) = strip(child)
      (c, fs ++ splitConjunctivePredicates(cond))
    case other => (other, Nil)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case j @ logical.Join(probe, AggSide(agg), Inner, Some(cond), JoinHint.NONE)
          if !j.isStreaming =>
        tryRewrite(j, probe, agg, cond, aggOnRight = true).getOrElse(j)
      case j @ logical.Join(AggSide(agg), probe, Inner, Some(cond), JoinHint.NONE)
          if !j.isStreaming =>
        tryRewrite(j, probe, agg, cond, aggOnRight = false).getOrElse(j)
    }
  }

  private def tryRewrite(j: logical.Join, probe: LogicalPlan, agg: logical.Aggregate,
                         cond: Expression, aggOnRight: Boolean): Option[LogicalPlan] = {
    // ---- aggregate shape: grouping attrs + exactly one max/min(col) ----
    val groupAttrs: Seq[Attribute] = agg.groupingExpressions.map {
      case a: Attribute => a
      case _ => return None
    }
    if (groupAttrs.isEmpty) return None // global extreme: broadcast join is already optimal
    // Supported aggregates: the group aggregate and its whole-partition
    // window form are the same function over the same rows (subtree
    // equality), so the join-to-window rewrite is sound for ANY
    // deterministic aggregate. Recognized: max/min (group-extreme),
    // sum/count (keep-rows-matching-the-group-total, e.g. "the row whose
    // v equals its group's count"). DISTINCT and filtered aggregates fall
    // through to None via the pattern below.
    def supported(f: AggregateFunction): Boolean = f match {
      case Max(_: Attribute) => true
      case Min(_: Attribute) => true
      case s: Sum => s.child.isInstanceOf[Attribute]
      case c: Count => c.children.forall(ch => ch.isInstanceOf[Attribute] || ch.foldable)
      case _ => false
    }
    var extreme: Option[(AggregateFunction, NamedExpression)] = None
    val groupOut = scala.collection.mutable.ArrayBuffer.empty[(Attribute, NamedExpression)]
    agg.aggregateExpressions.foreach {
      case out @ Alias(AggregateExpression(f, _, false, None, _), _) if supported(f) =>
        if (extreme.isDefined) return None
        extreme = Some((f, out))
      case out: Attribute if groupAttrs.exists(_.semanticEquals(out)) =>
        groupOut += ((out, out))
      case out @ Alias(g: Attribute, _) if groupAttrs.exists(_.semanticEquals(g)) =>
        groupOut += ((g, out))
      case _ => return None
    }
    val (aggFn, extremeOut) = extreme.getOrElse(return None)
    // every grouping key must survive into the aggregate output: if one is
    // projected away, the join below cannot equate it, and the query means
    // "rows matching ANY group's extreme" — which a per-own-group window
    // does not reproduce (groupsOk would pass vacuously on empty groupOut)
    if (!groupAttrs.forall(g => groupOut.exists(_._1.semanticEquals(g)))) return None

    // ---- subtree equivalence, robust to asymmetric column pruning and
    // inferred IsNotNull filters on the join columns ----
    val (coreP, filtersP) = strip(probe)
    val (coreA, filtersA) = strip(agg.child)
    if (!coreP.sameResult(coreA)) return None
    if (coreP.output.size != coreA.output.size) return None
    val corr: Map[ExprId, Attribute] = coreA.output.zip(coreP.output)
      .map { case (a, p) => a.exprId -> p }.toMap
    // agg-side columns in probe-attr space (they survive pure projects, so
    // they are core attrs)
    if (!aggFn.references.forall(r => corr.contains(r.exprId)) ||
        !groupAttrs.forall(g => corr.contains(g.exprId)))
      return None
    val fnRefs: Seq[Attribute] = aggFn.references.toSeq.map(r => corr(r.exprId))
    val partCols: Seq[Attribute] = groupAttrs.map(g => corr(g.exprId))
    if (!fnRefs.forall(probe.outputSet.contains) ||
        !partCols.forall(probe.outputSet.contains))
      return None

    // ---- join condition: every grouping output equated to its own probe
    // column, the aggregate output to exactly one probe column (for
    // max/min that is usually the aggregated column itself, but any probe
    // column is sound — the window filter compares the same values),
    // nothing else ----
    val conjuncts = splitConjunctivePredicates(cond)
    if (conjuncts.size != groupOut.size + 1) return None
    def eqPair(c: Expression): Option[(Attribute, Attribute)] = c match {
      case EqualTo(x, y) => (unwrapNorm(x), unwrapNorm(y)) match {
        case (a: Attribute, b: Attribute) =>
          if (probe.outputSet.contains(a) && agg.outputSet.contains(b)) Some((a, b))
          else if (probe.outputSet.contains(b) && agg.outputSet.contains(a)) Some((b, a))
          else None
        case _ => None
      }
      case _ => None
    }
    val pairs = conjuncts.map(c => eqPair(c).getOrElse(return None))
    val extremePairs = pairs.filter(_._2.exprId == extremeOut.exprId)
    if (extremePairs.size != 1) return None
    val pv = extremePairs.head._1
    val remaining = pairs.filterNot(_._2.exprId == extremeOut.exprId)
    val groupsOk = groupOut.forall { case (g, out) =>
      remaining.exists { case (p, ao) =>
        ao.exprId == out.exprId && p.exprId == corr(g.exprId).exprId
      }
    } && remaining.size == groupOut.size
    if (!groupsOk) return None

    // filters must agree up to IsNotNull on the join columns: those are
    // implied by the join's null-rejecting equality on one side and by the
    // rewritten plan's keep-filter on the other
    val joinCols = (partCols :+ pv).map(_.exprId).toSet
    def isJoinColNotNull(e: Expression): Boolean = e match {
      case IsNotNull(a: Attribute) => joinCols.contains(a.exprId)
      case _ => false
    }
    val mappedA = filtersA.map(_.transform {
      case a: Attribute if corr.contains(a.exprId) => corr(a.exprId)
    })
    val canonP = filtersP.map(_.canonicalized)
    val canonA = mappedA.map(_.canonicalized)
    val onlyP = canonP.diff(canonA)
    val onlyA = canonA.diff(canonP)
    val mappedANotNullOk = mappedA.zip(canonA).filter(x => onlyA.contains(x._2))
      .forall(x => isJoinColNotNull(x._1))
    val filtersPNotNullOk = filtersP.zip(canonP).filter(x => onlyP.contains(x._2))
      .forall(x => isJoinColNotNull(x._1))
    if (!mappedANotNullOk || !filtersPNotNullOk) return None

    // An AGG-side-only IsNotNull on the compared column pv is sound only
    // when the aggregate's own input IS pv: null-ignoring aggs (max/min/
    // sum/count(col)) drop those rows from their input themselves, so the
    // window over the unfiltered probe computes the same value. If the
    // aggregate reads a DIFFERENT column (max(x) compared via y — e.g.
    // with constraint propagation off, so the probe side never gained the
    // inferred isnotnull), or no column at all (count(*)/count(lit)),
    // dropping pv-null rows changed its input multiset — decline, keep
    // the join.
    val aggSideDropsPvRows = mappedA.zip(canonA).exists(x =>
      onlyA.contains(x._2) && (x._1 match {
        case IsNotNull(a: Attribute) => a.exprId == pv.exprId
        case _ => false
      }))
    if (aggSideDropsPvRows &&
        (fnRefs.isEmpty || fnRefs.exists(_.exprId != pv.exprId))) return None

    // ---- build: one pass over the probe side ----
    // The window must aggregate over exactly the AGG side's rows. The
    // probe side usually carries join-implied IsNotNull filters the agg
    // side lacks (InferFiltersFromConstraints derives isnotnull(pv) /
    // isnotnull(key) from the null-rejecting join equality): STRIP those
    // below the window and let the keep filter re-impose them above.
    // Harmless for max/min/sum/count(col) (they ignore nulls), REQUIRED
    // for count(*): leaving isnotnull(pv) below shrinks every partition
    // count by its null-pv rows (caught by RewriteFuzzSpec differential).
    val onlyPSet = onlyP.toSet
    def stripProbeOnlyNotNulls(p: LogicalPlan): LogicalPlan = p match {
      case pr @ logical.Project(pl, child) if pl.forall(_.isInstanceOf[Attribute]) =>
        pr.copy(child = stripProbeOnlyNotNulls(child))
      case logical.Filter(cond, child) =>
        val kept = splitConjunctivePredicates(cond).filterNot(c =>
          onlyPSet.contains(c.canonicalized) && isJoinColNotNull(c))
        val nc = stripProbeOnlyNotNulls(child)
        if (kept.isEmpty) nc else logical.Filter(kept.reduce(And(_, _)), nc)
      case other => other
    }
    val winChild = stripProbeOnlyNotNulls(probe)
    val frame = SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing)
    // the aggregate function itself, rebased onto probe-side attributes
    // (keeps evalMode/type behavior identical to the original)
    val fn = aggFn.withNewChildren(aggFn.children.map(_.transform {
      case a: Attribute if corr.contains(a.exprId) => corr(a.exprId)
    })).asInstanceOf[AggregateFunction]
    val wAlias = Alias(
      WindowExpression(fn.toAggregateExpression(),
        WindowSpecDefinition(partCols, Nil, frame)), "_graft_grpext")()
    val win = logical.Window(Seq(wAlias), partCols, Nil, winChild, None)
    val keep = (EqualTo(pv, wAlias.toAttribute) +:
      partCols.collect { case a if a.nullable => IsNotNull(a) })
      .reduce(And(_, _))
    val filt = logical.Filter(keep, win)
    val aggSideOut: Seq[NamedExpression] = agg.aggregateExpressions.map { out =>
      if (out.exprId == extremeOut.exprId)
        Alias(wAlias.toAttribute, out.name)(exprId = out.exprId)
      else {
        val g = groupOut.find(_._2.exprId == out.exprId).get._1
        val p = corr(g.exprId)
        if (p.exprId == out.exprId) p
        else Alias(p, out.name)(exprId = out.exprId)
      }
    }
    val outputs = if (aggOnRight) probe.output ++ aggSideOut
                  else aggSideOut ++ probe.output
    Some(logical.Project(outputs, filt))
  }
}

/** SparkSessionExtensions entry point:
  *
  *   builder                                  // a SparkSession.Builder
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *
  * Injects graft's optimizer rules into Catalyst. (Function registration
  * stays in Graft.init, which works on any already-built session.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteHofDotProduct)
    ext.injectOptimizerRule(_ => RewriteGroupTopK)
    ext.injectOptimizerRule(_ => RewriteBandJoin)
    ext.injectOptimizerRule(_ => RewriteMaxSelfJoin)
    ext.injectOptimizerRule(_ => RewriteMaxPerKey)
    ext.injectPlannerStrategy(_ => GroupTopKStrategy)
    ext.injectPlannerStrategy(_ => MaxPerKeyStrategy)
  }
}
