package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute,
  AttributeReference, CreateNamedStruct, EqualTo, Expression,
  GreaterThanOrEqual, LessThanOrEqual, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Complete, MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Catalyst optimizer rule: the SQL FRONT DOOR for the native as-of
  * join. A SQL user writes the textbook as-of shape — a left-outer
  * inequality join reduced to one row per left entity with `max_by`:
  *
  * {{{
  * SELECT l.id, l.k,
  *        max_by(r.v,  struct(r.t, r.tb)) AS v,
  *        max_by(r.tb, struct(r.t, r.tb)) AS tb
  * FROM l LEFT JOIN r ON l.k = r.k AND r.t <= l.t
  * GROUP BY l.id, l.k, ...
  * }}}
  *
  * and without this rule gets the generic plan: the join fans out to
  * |left row x same-key right rows| candidate rows BEFORE the
  * aggregate trims them — a hot key materializes its full history per
  * left row. The rule swaps the Join child for [[AsofJoinPlan]], which
  * keeps exactly the best match per left row (one shuffle per side,
  * O(1) merge state, zero fan-out), and LEAVES THE AGGREGATE IN PLACE
  * over the now one-row-per-left-row input — so the query's own
  * collapse semantics (duplicate grouped rows, null-group keys) are
  * untouched, and the aggregate's map-side partial combine is
  * preserved.
  *
  * SOUNDNESS — the aggregate sees a subset of the join's rows, so
  * every aggregate expression must be insensitive to dropping
  * non-best matches. The matcher therefore requires every aggregate
  * function to be `max_by(v, ord)` (backward; `min_by` forward) with
  * ONE SHARED ordering struct whose first field is the join's right
  * time and whose remaining fields are right-side attributes (the
  * tiebreak). For such aggregates, the group result is the argmax over
  * the union of the group's candidate sets, and
  * argmax(union) == argmax({per-left-row argmaxes}) — exactly the rows
  * the as-of join keeps. Left-outer null extension survives: a left
  * row is unmatched under the as-of join iff it had no candidates
  * under the original join, so the null-extended rows the aggregate
  * sees are the same set. NULL times match nothing in both forms (the
  * SQL inequality is null-rejecting; the exec drops null right times
  * and null-extends null left times). Determinism: the rewrite picks
  * the same row max_by picks whenever `ord` is a total order over the
  * group's candidates (the same condition under which the ORIGINAL
  * query is deterministic).
  *
  * Fires only on: Aggregate over (optionally a pass-through
  * attribute-only Project over) a LEFT OUTER Join with no hint, whose
  * condition is exactly equi-key conjuncts plus ONE long-typed time
  * inequality `r.t <= l.t` (backward, paired with max_by) or
  * `r.t >= l.t` (forward, with min_by); grouping keys all left-side
  * attributes; every aggregate a max_by/min_by as above. Anything else
  * — extra conjuncts, tolerance bands, other aggregate functions —
  * keeps the generic plan (exactness first; the DataFrame API's
  * [[AsofJoin.joinAsOf]] covers tolerance and direction explicitly).
  *
  * Registered with the session like the other graft rules, from the
  * one registry `GraftSql.rules` (GraftSql.ensureRegistered via
  * `experimental.extraOptimizations`).
  */
object SqlAsofRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(_, _, j: Join, _) =>
      rewrite(agg, j, p => p).getOrElse(agg)
    case agg @ Aggregate(_, _, proj @ Project(pl, j: Join), _)
        if pl.forall(_.isInstanceOf[AttributeReference]) =>
      rewrite(agg, j, p => proj.copy(child = p)).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate, j: Join,
      rebuild: LogicalPlan => LogicalPlan): Option[LogicalPlan] = {
    if (j.joinType != LeftOuter || j.hint != JoinHint.NONE ||
      j.condition.isEmpty || j.left.isStreaming || j.right.isStreaming)
      return None
    val lOut = j.left.outputSet
    val rOut = j.right.outputSet

    // --- condition: equi keys + exactly one long time inequality
    var lk = Vector.empty[Attribute]
    var rk = Vector.empty[Attribute]
    var time: Option[(Attribute, Attribute, Boolean)] = None // (lt, rt, fwd)
    def asTime(lt: Expression, rt: Expression, fwd: Boolean): Boolean =
      (lt, rt) match {
        case (a: AttributeReference, b: AttributeReference)
            if lOut.contains(a) && rOut.contains(b) &&
              a.dataType == LongType && b.dataType == LongType &&
              time.isEmpty =>
          time = Some((a, b, fwd)); true
        case _ => false
      }
    val parsed = splitConjunctivePredicates(j.condition.get).forall {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if lOut.contains(a) && rOut.contains(b) =>
        lk :+= a; rk :+= b; true
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if lOut.contains(a) && rOut.contains(b) =>
        lk :+= a; rk :+= b; true
      // r.t <= l.t  |  l.t >= r.t   (backward)
      case LessThanOrEqual(rt, lt) if asTime(lt, rt, fwd = false) => true
      case GreaterThanOrEqual(lt, rt) if asTime(lt, rt, fwd = false) => true
      // r.t >= l.t  |  l.t <= r.t   (forward)
      case GreaterThanOrEqual(rt, lt) if asTime(lt, rt, fwd = true) => true
      case LessThanOrEqual(lt, rt) if asTime(lt, rt, fwd = true) => true
      case _ => false
    }
    if (!parsed || time.isEmpty) return None
    val (lt, rt, fwd) = time.get

    // --- grouping: left-side attributes only
    if (!agg.groupingExpressions.forall {
      case a: AttributeReference => lOut.contains(a)
      case _ => false
    }) return None
    val groupAttrs = agg.groupingExpressions.map(_.asInstanceOf[Attribute])

    // --- aggregates: pass-through grouping attrs or max_by/min_by on
    // one shared ordering struct (first field = the join's right time)
    def ordFields(e: Expression): Option[Seq[Attribute]] = e match {
      case cns: CreateNamedStruct =>
        val vals = cns.valExprs
        if (vals.nonEmpty && vals.head.semanticEquals(rt) &&
          vals.tail.forall {
            case a: AttributeReference => rOut.contains(a)
            case _ => false
          }) Some(vals.tail.map(_.asInstanceOf[Attribute]))
        else None
      case a: AttributeReference if a.semanticEquals(rt) => Some(Nil)
      case _ => None
    }
    var tiebreak: Option[Seq[Attribute]] = None
    def sameOrd(tb: Seq[Attribute]): Boolean = tiebreak match {
      case Some(prev) => prev.length == tb.length &&
        prev.zip(tb).forall { case (a, b) => a.semanticEquals(b) }
      case None => tiebreak = Some(tb); true
    }
    def okAgg(ne: NamedExpression): Boolean = ne match {
      case a: AttributeReference => groupAttrs.exists(_.semanticEquals(a))
      case Alias(a: AttributeReference, _) =>
        groupAttrs.exists(_.semanticEquals(a))
      case Alias(AggregateExpression(f, Complete, false, None, _), _) =>
        val (v, ord) = f match {
          case MaxBy(v, o) if !fwd => (v, o)
          case MinBy(v, o) if fwd => (v, o)
          case _ => return false
        }
        v.deterministic && v.references.subsetOf(rOut) &&
          ordFields(ord).exists(sameOrd)
      case _ => false
    }
    if (!agg.aggregateExpressions.forall(okAgg)) return None
    if (tiebreak.isEmpty) return None // no max_by at all: nothing to gain

    val asof = AsofJoinPlan(j.left, j.right, lk, rk, lt, rt,
      tiebreak.get, toleranceUs = None, forward = fwd,
      broadcastRight = None)
    Some(agg.copy(child = rebuild(asof)))
  }
}
