package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Abs, Add, Alias, And,
  Attribute, AttributeReference, Cast, EqualTo, Expression, Floor,
  GenericInternalRow, GreaterThan, GreaterThanOrEqual, IntegralDivide,
  LessThan, LessThanOrEqual, Literal, Multiply, Murmur3Hash, Pmod,
  Subtract}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint,
  LocalRelation, LogicalPlan, Project, RepartitionOperation, Sort,
  SubqueryAlias, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Catalyst optimizer rule: turn a naive distance-filtered (cross)
  * join
  *
  * {{{ a.crossJoin(b).where((ax-bx)*(ax-bx) + (ay-by)*(ay-by) <= r2) }}}
  *
  * into the PBSM grid join `operators/Geo` builds by hand: key the
  * left side to its home cell on a grid of edge >= r = sqrt(r2),
  * replicate the right side to its 3x3 cell neighborhood (a 9-row
  * offsets relation — broadcast by size), and equi-join on the cell
  * ids with the ORIGINAL predicate kept behind the join. The user
  * writes the O(|A|*|B|) form; the optimizer plans the
  * O(|A| + 9*|B| + candidates) one.
  *
  * SOUNDNESS — same result set, bit-for-bit:
  *  - superset: |ax-bx| <= edge implies the cell coordinates differ
  *    by at most 1 (floor monotonicity on a grid of edge >= r), so
  *    every pair passing the distance predicate meets in some cell;
  *  - no duplicates: the left row's home cell is unique and the nine
  *    replicas of a right row land in nine DISTINCT cells, so a pair
  *    meets at most once;
  *  - no drift: the original conjunction is re-applied verbatim as
  *    the join condition — the grid only bounds candidates; NULL
  *    coordinates produce NULL cells which join nothing, exactly the
  *    rows the NULL-rejecting distance predicate dropped before.
  *
  * FLOAT EXACTNESS (double axes) — the grid edge is the smallest
  * POWER OF TWO >= the (slack-widened) radius. Dividing any double by
  * a power of two is a pure exponent shift: the quotient is exact
  * (same significand), so `floor(coord / edge)` carries ZERO rounding
  * error at ANY coordinate magnitude. The previous fixed 1e-9
  * relative margin covered sqrt rounding but not the coord/edge
  * division, whose absolute error grows as ulp(|q|) — for quotients
  * beyond ~4.5e6 cells (epoch-second or UTM-meter coordinates with a
  * small radius) floor cells of two in-radius points could differ by
  * 2 and the pair was silently dropped. With a power-of-two edge the
  * +-1 neighbor bound is the pure-math one with no magnitude limit.
  * (Extremes are safe too: quotients large enough to saturate the
  * long-valued floor collapse together — exact quotients near 2^63
  * are >= 2048 apart, so two in-radius points can never straddle the
  * saturation boundary; subnormal quotients floor to {-1, 0} which
  * are always within 1 of each other.) Cost: edge in [r, 2r) — up to
  * ~2x per-axis candidate inflation, still O(local cell density).
  *
  * INTEGRAL WRAP PARITY (int/long band) — with ANSI off the
  * preserved predicate's `a - b` WRAPS on overflow, so a pair can
  * match "through" the type boundary (a near MaxValue, b near
  * MinValue) while the wrap-free trunc-div cells put them a full
  * type-range apart. A wrapped match `a - b = d +- 2^BITS`,
  * `|d| <= w`, forces BOTH operands into the extreme bands:
  * a > Max - w and b < Min + w (or mirrored). The rewrite therefore
  * UNIONs the grid join with two "sliver" joins — the (top-band x
  * bottom-band) and (bottom-band x top-band) cross products under
  * the verbatim original predicate — which are empty for any data
  * not touching the outer w of the type range, and whose band
  * filters push to the scans. A third supplement covers the ABS
  * wrap: `abs(MinValue)` is MinValue (negative), so pairs whose
  * wrapped difference is exactly MinValue match ANY width — they
  * form an exact equi-join on `a + MinValue` (see [[absWrapJoins]]). Disjointness (no duplicate rows):
  * cross-band pairs sit >= range - 2w apart, which is > 1 cell for
  * the guarded w (<= 2^29 int, <= 2^61 long), so the grid never
  * emits a sliver pair; same-band and interior pairs never wrap, so
  * the slivers never emit a grid pair. Long cells themselves could
  * wrap in `cell + offset` only when w == 1 (cell == coordinate), so
  * long bands require w >= 2; int cells are computed on long-cast
  * operands and can never wrap. Under ANSI mode (Spark 4's default)
  * a wrapping subtract THROWS instead of matching, so no sliver is
  * needed or added; the one accepted divergence is that the rewrite
  * can SUCCEED where the naive plan would raise ARITHMETIC_OVERFLOW
  * on a far-apart pair the grid never evaluates.
  *
  * Fires only on Inner/Cross joins whose condition carries the
  * squared-euclidean conjunct over DOUBLE attributes with one point
  * per side and a positive finite DOUBLE bound (<= or <), or the 1-D
  * band form `abs(a - b) <= w` / `< w` over same-type int/long/double
  * attributes on opposite sides. The bound may be a literal, or a
  * PER-ROW attribute (variable geofence radius) when a dominating
  * literal is statically provable from a sibling conjunct or pushed
  * child filter `r <= lit` — the grid then keys on the MAX radius
  * and the exact per-row predicate still decides each pair. Idempotence inside
  * the fixed-point batch: the rewritten grid join's condition
  * references the generated `_gridx_` cell attributes and the sliver
  * joins key on a generated `_gridx_s` marker (non-foldable `a * 0`,
  * so constant folding in the shared operator-optimization batch
  * cannot erase the guard), both of which the matcher rejects.
  *
  * Listed in the one registry, `GraftSql.rules`: installed per session
  * by [[org.apache.spark.sql.graft.GraftSql.ensureRegistered]]
  * (`spark.experimental.extraOptimizations`).
  */
object GridJoinRewrite extends Rule[LogicalPlan] {

  /** A non-literal RHS bounded only by the SESSION HINT, not a proof:
    * `rhs` is the per-row (or row-independent, e.g. scalar-subquery)
    * bound expression, `onLeft` names the join side its references
    * live on (left when reference-free), and the rewrite must keep a
    * RESIDUAL naive arm for rows with `rhs > hint` — the hint is a
    * planning aid, never a correctness assumption.
    */
  private[graft] case class HintResidual(rhs: Expression, onLeft: Boolean)

  /** The outcome of bounding a comparison RHS: the dominating literal
    * plus, for hint-derived bounds, the residual-arm recipe.
    */
  private[graft] case class Bound(lit: Literal, residual: Option[HintResidual])

  /** A literal PROVEN to dominate `target` for every row of `p`,
    * searched along a row-preserving descent. The previous
    * implementation collected Filter conjuncts and alias definitions
    * at ANY depth, which was unsound under Union: a Union reuses its
    * FIRST child's exprIds, so a filter present in only one branch
    * looked plan-wide and the grid keyed on a too-small max radius,
    * silently dropping matches from the unfiltered branches. This
    * walk is target-aware instead:
    *  - Filter: a conjunct `target <= lit` / `< lit` proves the bound
    *    (every row below the join input passed it);
    *  - Project: if the target attribute is DEFINED here, continue
    *    with its definition expression (pushdown rewrites bound
    *    filters through defining Projects); a Project that drops a
    *    still-attribute target ends the search;
    *  - Union: recurse into EVERY child with the target mapped
    *    POSITIONALLY (Union semantics — output attr i is child attr
    *    i), and accept only if every branch proves a bound, taking
    *    the largest so it dominates all rows. A one-branch bound is
    *    rejected — the round-12 soundness fix — while a filter pushed
    *    through the Union into all branches (how Spark leaves an
    *    above-Union user filter by the time this rule runs) still
    *    proves.
    *  - Sort/SubqueryAlias/repartition pass through; anything else
    *    (aggregates, joins, Expand — exprId-reusing or row-changing)
    *    ends the search.
    */
  private def upperFor(target: Expression, p: LogicalPlan): Option[Literal] = {
    def boundIn(conjs: Seq[Expression]): Option[Literal] = conjs.collectFirst {
      case LessThanOrEqual(x, l: Literal)
          if l.dataType == target.dataType && x.semanticEquals(target) => l
      case LessThan(x, l: Literal)
          if l.dataType == target.dataType && x.semanticEquals(target) => l
    }
    p match {
      case f: Filter =>
        boundIn(splitConjuncts(f.condition)).orElse(upperFor(target, f.child))
      case pr: Project =>
        target match {
          case a: AttributeReference =>
            pr.projectList.collectFirst {
              case al: Alias if al.exprId == a.exprId => al.child
            } match {
              case Some(defn) => upperFor(defn, pr.child)
              case None =>
                if (pr.outputSet.contains(a)) upperFor(target, pr.child)
                else None
            }
          case _ => upperFor(target, pr.child)
        }
      case u: Union =>
        target match {
          case a: AttributeReference =>
            val idx = u.output.indexWhere(_.exprId == a.exprId)
            if (idx < 0) None
            else {
              val branchBounds = u.children.map(c => upperFor(c.output(idx), c))
              if (branchBounds.exists(_.isEmpty)) None
              else maxLiteral(branchBounds.flatten)
            }
          case _ => None
        }
      case sa: SubqueryAlias => upperFor(target, sa.child)
      case so: Sort => upperFor(target, so.child)
      case r: RepartitionOperation => upperFor(target, r.child)
      case _ => None
    }
  }

  /** The dominating literal among same-typed numeric literals — exact
    * per-type comparison (a Double round-trip would collapse close
    * longs above 2^53 and could pick a non-dominating bound).
    */
  private def maxLiteral(ls: Seq[Literal]): Option[Literal] =
    if (ls.map(_.dataType).distinct.length != 1) None
    else ls.head.value match {
      case _: Double =>
        val vs = ls.map(_.value.asInstanceOf[Double])
        if (vs.exists(_.isNaN)) None else Some(ls(vs.indexOf(vs.max)))
      case _: Int =>
        val vs = ls.map(_.value.asInstanceOf[Int]); Some(ls(vs.indexOf(vs.max)))
      case _: Long =>
        val vs = ls.map(_.value.asInstanceOf[Long]); Some(ls(vs.indexOf(vs.max)))
      case _ => None
    }

  /** Session hint `spark.graft.grid.maxBoundHint`: an assumed upper
    * bound for the RHS VALUE of the distance/band comparison (r² for
    * the squared-distance form, the width for the band form), parsed
    * to the comparison's type. The hint unlocks the grid plan when no
    * dominating bound is PROVABLE from the plan (per-row radius with
    * no pushed filter, scalar-subquery bound) — and stays exact
    * regardless of the data, because the rewrite pairs the hinted grid
    * arm (`rhs <= hint` rows) with a residual naive arm (`rhs > hint`
    * rows); an honest hint leaves the residual scan empty and parquet
    * min/max stats skip it.
    */
  private def hintLiteral(dt: org.apache.spark.sql.types.DataType): Option[Literal] = {
    val raw = conf.getConfString("spark.graft.grid.maxBoundHint", "")
    if (raw.isEmpty) None
    else dt match {
      // positivity is load-bearing for ALL types: an integral hint of
      // 0 would key the grid on IntegralDivide by zero — null cells in
      // non-ANSI mode silently dropping the rhs == 0 self-matches the
      // residual arm (rhs > 0) doesn't cover, a runtime throw under
      // ANSI. (bandOf's width guards would ALSO reject 0, but only
      // after dims is partially matched — reject at the source.)
      case DoubleType => raw.toDoubleOption
        .filter(v => v > 0 && !v.isInfinite).map(Literal(_, DoubleType))
      case IntegerType => raw.toIntOption.filter(_ > 0).map(Literal(_, IntegerType))
      case LongType => raw.toLongOption.filter(_ > 0).map(Literal(_, LongType))
      case _ => None
    }
  }

  /** A static upper bound for the RHS of a distance/band comparison:
    * the literal itself; or — for an attribute-valued RHS (the
    * per-row-radius / variable-geofence shape) — a literal the plan
    * PROVES dominates it: a sibling conjunct or a row-preserving-chain
    * child Filter of the form `attr <= lit` / `attr < lit` (the attr
    * also matched via its chain alias-child expression, one aliasing
    * level); or — for any deterministic single-side RHS with no proof
    * — the session hint, which carries a residual-arm obligation (see
    * [[hintLiteral]]). With a dominating bound the grid keys on the
    * MAX radius and the exact per-row predicate stays behind the
    * join: every surviving pair in the grid arm has
    * `dist <= r_row <= bound`, so the superset proof is unchanged
    * with edge taken from the bound.
    */
  private def staticUpper(e: Expression, siblings: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Option[Bound] = e match {
    case l: Literal => Some(Bound(l, None))
    case a: AttributeReference =>
      val sibling = siblings.collectFirst {
        case LessThanOrEqual(x, l: Literal)
            if l.dataType == a.dataType && x.semanticEquals(a) => l
        case LessThan(x, l: Literal)
            if l.dataType == a.dataType && x.semanticEquals(a) => l
      }
      sibling.orElse(upperFor(a, left)).orElse(upperFor(a, right))
        .map(Bound(_, None))
        .orElse(hinted(a, left, right))
    case other => hinted(other, left, right)
  }

  /** Hint fallback for an unproven RHS: deterministic, references
    * confined to ONE join side (or none — scalar subquery / session
    * constant), hint set and parseable to the comparison type.
    */
  private def hinted(rhs: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Bound] = {
    if (!rhs.deterministic) None
    else {
      val refs = rhs.references
      val side =
        if (refs.subsetOf(left.outputSet)) Some(true)
        else if (refs.subsetOf(right.outputSet)) Some(false)
        else None
      for {
        onLeft <- side
        lit <- hintLiteral(rhs.dataType)
      } yield Bound(lit, Some(HintResidual(rhs, onLeft)))
    }
  }

  /** (ax, ay, bx, by, r2max) with (ax, ay) from one side, (bx, by)
    * from the other, or None when the conjunct is not the distance
    * shape. The bound may be a literal or a [[staticUpper]]-provable
    * per-row attribute.
    */
  private def matchDist(conjunct: Expression, siblings: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan)
      : Option[(Attribute, Attribute, Attribute, Attribute, Double, Option[HintResidual])] = {
    def attr(e: Expression): Option[Attribute] = e match {
      case a: AttributeReference if a.dataType == DoubleType => Some(a)
      case _ => None
    }
    // one squared term: (u - v) * (u - v) with semantically equal subs
    def sq(e: Expression): Option[(Attribute, Attribute)] = e match {
      case Multiply(s1 @ Subtract(u1, v1, _), s2, _) if s1.semanticEquals(s2) =>
        for (u <- attr(u1); v <- attr(v1)) yield (u, v)
      case _ => None
    }
    def upper(rhs: Expression): Option[(Double, Option[HintResidual])] =
      staticUpper(rhs, siblings, left, right).collect {
        case Bound(Literal(r2: Double, DoubleType), res) => (r2, res)
      }
    val bound = conjunct match {
      case LessThanOrEqual(l, rhs) => upper(rhs).map((l, _))
      case LessThan(l, rhs) => upper(rhs).map((l, _))
      case _ => None
    }
    bound.flatMap { case (lhs, (r2, res)) =>
      if (!(r2 > 0.0) || r2.isInfinite) None
      else lhs match {
        case Add(t1, t2, _) =>
          for {
            (x1, x2) <- sq(t1)
            (y1, y2) <- sq(t2)
            o <- orient(x1, x2, y1, y2, left, right)
          } yield (o._1, o._2, o._3, o._4, r2, res)
        case _ => None
      }
    }
  }

  /** Sort the four attributes into (leftX, leftY, rightX, rightY),
    * accepting either written order inside each subtraction.
    */
  private def orient(x1: Attribute, x2: Attribute, y1: Attribute,
      y2: Attribute, left: LogicalPlan, right: LogicalPlan)
      : Option[(Attribute, Attribute, Attribute, Attribute)] = {
    def side(a: Attribute): Option[Boolean] =
      if (left.outputSet.contains(a)) Some(true)
      else if (right.outputSet.contains(a)) Some(false)
      else None
    for {
      sx1 <- side(x1); sx2 <- side(x2); sy1 <- side(y1); sy2 <- side(y2)
      if sx1 != sx2 && sy1 != sy2
      lx = if (sx1) x1 else x2
      rx = if (sx1) x2 else x1
      ly = if (sy1) y1 else y2
      ry = if (sy1) y2 else y1
    } yield (lx, ly, rx, ry)
  }

  /** 1-D band form: `abs(a - b) <= w` or `abs(a - b) < w` over
    * attributes of the same numeric type on opposite sides, w a
    * positive literal. For INTEGRAL coordinates the cell is exact
    * truncating division — trunc-div boundaries sit at multiples of w
    * (none at zero, so the origin cell is 2w wide), consecutive
    * boundaries are >= w apart, and |a-b| <= w therefore crosses at
    * most one boundary: the same +-1 neighbor bound as floor cells,
    * with zero float rounding. (Strict `< w` is a subset of `<= w`,
    * so the same cells are a superset of its matches too.)
    */
  private def matchBand(conjunct: Expression, siblings: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan)
      : Option[(Attribute, Attribute, Literal, Boolean, Option[HintResidual])] = {
    def attrs(u: Expression, v: Expression): Option[(Attribute, Attribute)] =
      (u, v) match {
        case (a: AttributeReference, b: AttributeReference)
            if a.dataType == b.dataType =>
          if (left.outputSet.contains(a) && right.outputSet.contains(b))
            Some((a, b))
          else if (left.outputSet.contains(b) && right.outputSet.contains(a))
            Some((b, a))
          else None
        case _ => None
      }
    def bandOf(u: Expression, v: Expression, lit: Literal)
        : Option[(Attribute, Attribute, Literal, Boolean)] = lit match {
      // long bands: w == 1 makes the cell the coordinate itself, so
      // `cell + offset` could wrap at Long.MaxValue and collide with a
      // real home cell, double-reporting a sliver pair — require w >= 2
      case Literal(w: Long, LongType) if w >= 2 && w <= MaxLongW =>
        attrs(u, v).filter(_._1.dataType == LongType)
          .map { case (a, b) => (a, b, lit, true) }
      case Literal(w: Int, IntegerType) if w > 0 && w <= MaxIntW =>
        attrs(u, v).filter(_._1.dataType == IntegerType)
          .map { case (a, b) => (a, b, lit, true) }
      case Literal(w: Double, DoubleType) if w > 0 && !w.isInfinite =>
        attrs(u, v).filter(_._1.dataType == DoubleType)
          .map { case (a, b) => (a, b, lit, false) }
      case _ => None
    }
    def withRes(u: Expression, v: Expression, rhs: Expression)
        : Option[(Attribute, Attribute, Literal, Boolean, Option[HintResidual])] =
      staticUpper(rhs, siblings, left, right).flatMap { b =>
        bandOf(u, v, b.lit).map { case (a, bb, w, integral) =>
          (a, bb, w, integral, b.residual)
        }
      }
    conjunct match {
      case LessThanOrEqual(Abs(Subtract(u, v, _), _), rhs) => withRes(u, v, rhs)
      case LessThan(Abs(Subtract(u, v, _), _), rhs) => withRes(u, v, rhs)
      case _ => None
    }
  }

  // band-width guards: beyond these the predicate accepts >= ~1/5 of
  // the difference space (gridding gains nothing) AND the grid/sliver
  // disjointness argument (cross-band cell separation > 1) would fail
  private val MaxIntW: Int = 1 << 29
  private val MaxLongW: Long = 1L << 61

  /** floor(coord / edge) as LONG — the home-cell index (double axes). */
  private def cell(coord: Expression, edge: Double): Expression =
    Floor(org.apache.spark.sql.catalyst.expressions.Divide(
      coord, Literal(edge, DoubleType)))

  /** Smallest power of two >= s0 widened by 1e-12 relative. The
    * widening covers (a) sqrt's half-ulp-down rounding and (b) the
    * few-ulp slack in the RUNTIME predicate (fl(dx*dx)+fl(dy*dy) can
    * pass pairs marginally beyond the true radius); the power-of-two
    * choice makes the runtime division exact — see the scaladoc.
    */
  private def pow2Edge(s0: Double): Double = {
    val s = s0 * (1 + 1e-12)
    val e = java.lang.Math.getExponent(s)
    if (e < java.lang.Double.MIN_EXPONENT)
      java.lang.Math.scalb(1.0, java.lang.Double.MIN_EXPONENT)
    else if (java.lang.Math.scalb(1.0, e) >= s) java.lang.Math.scalb(1.0, e)
    else java.lang.Math.scalb(1.0, e + 1)
  }

  /** One rewrite dimension: the left cell expr and a function from the
    * offset attribute to the right cell expr.
    */
  private case class Dim(leftCell: Expression, rightCell: Expression => Expression)

  /** The integral wrap-parity sliver: band attrs plus the typed
    * `> hi` / `< lo` extreme-band bounds (Max - w and Min + w).
    */
  private case class Sliver(a: Attribute, b: Attribute, hi: Literal, lo: Literal)

  /** Hint-derived bound obligation, threaded to [[apply]]: split the
    * join on `rhs <= lit` (grid arm) vs `rhs > lit` (residual naive
    * arm) on side `onLeft`. `leftAttr`/`rightAttr` are the matched
    * comparison's coordinate attributes — one per side, both
    * NULL-REJECTED by the preserved predicate — used to build the
    * residual arm's idempotence markers.
    */
  private case class Residual(rhs: Expression, onLeft: Boolean, lit: Literal,
      leftAttr: Attribute, rightAttr: Attribute)

  private def dims(conjunct: Expression, siblings: Seq[Expression],
      left: LogicalPlan,
      right: LogicalPlan): Option[(Seq[Dim], Option[Sliver], Option[Residual])] =
    matchDist(conjunct, siblings, left, right).map { case (lx, ly, rx, ry, r2, res) =>
      val edge = pow2Edge(math.sqrt(r2))
      (Seq(Dim(cell(lx, edge), d => Add(cell(rx, edge), Cast(d, LongType))),
        Dim(cell(ly, edge), d => Add(cell(ry, edge), Cast(d, LongType)))),
        None,
        res.map(h => Residual(h.rhs, h.onLeft, Literal(r2, DoubleType), lx, rx)))
    }.orElse(matchBand(conjunct, siblings, left, right).flatMap { case (a, b, w, integral, res) =>
      if (integral) {
        val (wl, hi, lo) = w.value match {
          case i: Int => (i.toLong,
            Literal(Int.MaxValue - i, IntegerType),
            Literal(Int.MinValue + i, IntegerType))
          case l: Long => (l,
            Literal(Long.MaxValue - l, LongType),
            Literal(Long.MinValue + l, LongType))
        }
        val wLit = Literal(wl, LongType)
        // wrap-parity slivers are needed only when `a - b` WRAPS —
        // i.e. ANSI off. Under ANSI (Spark 4's default) a wrapping
        // pair makes the naive subtract THROW instead of match, so
        // there is nothing for the slivers to recover; the grid's
        // own arithmetic (w >= 2 guard keeps |cell| <= 2^62, int
        // cells are long-cast) never overflows. Accepted divergence,
        // per the rule's contract: under ANSI the rewrite can
        // SUCCEED where the naive plan would raise
        // ARITHMETIC_OVERFLOW on some far-apart pair it no longer
        // evaluates.
        val sliver =
          if (conf.ansiEnabled) None else Some(Sliver(a, b, hi, lo))
        Some((Seq(Dim(IntegralDivide(Cast(a, LongType), wLit),
          d => Add(IntegralDivide(Cast(b, LongType), wLit), Cast(d, LongType)))),
          sliver,
          res.map(h => Residual(h.rhs, h.onLeft, w, a, b))))
      } else {
        val edge = pow2Edge(w.value.asInstanceOf[Double])
        Some((Seq(Dim(cell(a, edge), d => Add(cell(b, edge), Cast(d, LongType)))),
          None,
          res.map(h => Residual(h.rhs, h.onLeft, w, a, b))))
      }
    })

  /** True when the condition already carries an attribute-equality
    * conjunct across the two sides: Spark then plans a hash join on
    * that key and the distance/band predicate is a cheap post-filter
    * over ALREADY key-local candidates — re-gridding would only add
    * the x9/x3 replication. This guard is also what makes the rule
    * idempotent: its own output (and any hand-built grid join) keys
    * on cell-equality conjuncts and is left alone.
    */
  private def hasEquiKey(conjuncts: Seq[Expression], left: LogicalPlan,
      right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a: Attribute, b: Attribute) =>
        (left.outputSet.contains(a) && right.outputSet.contains(b)) ||
          (left.outputSet.contains(b) && right.outputSet.contains(a))
      case _ => false
    }

  /** The two wrap-parity sliver joins (top x bottom, bottom x top),
    * each projected to the original join's output. The marker key
    * `_gridx_s` is `a * 0` — NOT foldable (references an attribute,
    * and Spark has no multiply-by-zero rule because of NULL
    * semantics), so the idempotence guard survives constant folding
    * in the shared fixed-point batch; it also gives the planner an
    * equi-key so the slivers hash-join instead of nested-looping.
    * NULL operands get a NULL key and join nothing — exactly the
    * rows the NULL-rejecting band predicate dropped in the naive
    * plan.
    */
  private def sliverJoins(j: Join, cond: Expression, s: Sliver): Seq[LogicalPlan] = {
    def one(leftPred: Expression, rightPred: Expression): LogicalPlan = {
      val ml = Alias(Multiply(Cast(s.a, LongType), Literal(0L, LongType)), "_gridx_s")()
      val mr = Alias(Multiply(Cast(s.b, LongType), Literal(0L, LongType)), "_gridx_s")()
      val lp = Project(j.left.output :+ ml, Filter(leftPred, j.left))
      val rp = Project(j.right.output :+ mr, Filter(rightPred, j.right))
      Project(j.output, Join(lp, rp, Inner,
        Some(And(EqualTo(ml.toAttribute, mr.toAttribute), cond)), JoinHint.NONE))
    }
    Seq(one(GreaterThan(s.a, s.hi), LessThan(s.b, s.lo)),
      one(LessThan(s.a, s.lo), GreaterThan(s.b, s.hi))) ++ absWrapJoins(j, cond, s)
  }

  /** The abs-wrap supplement (found by the randomized differential
    * suite, not the hand proof): when the wrapped difference is
    * EXACTLY MinValue, non-ANSI `abs` wraps to MinValue — negative,
    * hence `<=`/`<` ANY positive width — so the naive plan matches
    * every pair with `b == a + 2^(BITS-1) (mod 2^BITS)` regardless of
    * w, and those pairs are NOT confined to the extreme bands the
    * slivers cover (e.g. Long.MinValue+3 vs 3). They are, however, an
    * exact EQUI-join on the computed key `a + MinValue` (adding or
    * subtracting 2^(BITS-1) is the same thing mod 2^BITS, so one key
    * covers both signs), and at least one operand of every such pair
    * has magnitude >= 2^(BITS-2) — so the two magnitude-split
    * branches below keep one join side empty for typical
    * (timestamp-scale) data, where parquet min/max stats skip the
    * filtered scans entirely. Disjoint from the grid (candidates are
    * cell-adjacent, |diff| < 3w) and from the slivers (their wrapped
    * diffs are in [-2w, 0) ∪ (0, 2w], never -2^(BITS-1), given the
    * width guards).
    */
  private def absWrapJoins(j: Join, cond: Expression, s: Sliver): Seq[LogicalPlan] = {
    val (minLit, thLo, thHi) = s.a.dataType match {
      case IntegerType => (Literal(Int.MinValue, IntegerType),
        Literal(-(1 << 30), IntegerType), Literal(1 << 30, IntegerType))
      case _ => (Literal(Long.MinValue, LongType),
        Literal(-(1L << 62), LongType), Literal(1L << 62, LongType))
    }
    def big(v: Attribute): Expression =
      org.apache.spark.sql.catalyst.expressions.Or(
        LessThanOrEqual(v, thLo), GreaterThanOrEqual(v, thHi))
    def small(v: Attribute): Expression =
      And(GreaterThan(v, thLo), LessThan(v, thHi))
    def one(leftPred: Expression, rightPred: Option[Expression]): LogicalPlan = {
      val mk = Alias(Add(s.a, minLit), "_gridx_w")()
      val lp = Project(j.left.output :+ mk, Filter(leftPred, j.left))
      val rp = rightPred.map(p => Filter(p, j.right)).getOrElse(j.right)
      Project(j.output, Join(lp, rp, Inner,
        Some(And(EqualTo(mk.toAttribute, s.b), cond)), JoinHint.NONE))
    }
    Seq(one(big(s.a), None), one(small(s.a), Some(big(s.b))))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner | Cross, Some(cond), _)
        if !cond.references.exists(_.name.startsWith("_gridx_")) &&
          !hasEquiKey(splitConjuncts(cond), left, right) =>
      splitConjuncts(cond).iterator
        .flatMap(c => dims(c, splitConjuncts(cond).filterNot(_ eq c), left, right))
        .take(1).toSeq.headOption match {
        case None => j
        case Some((ds, sliver, None)) => buildGrid(j, ds, sliver)
        case Some((ds, sliver, Some(r))) =>
          // HINT-derived bound: exactness does not rest on the hint.
          // Partition every candidate pair by the bound value —
          //   rhs <= hint  -> grid arm (superset proof holds: every
          //                   surviving pair has dist <= rhs <= hint)
          //   rhs >  hint  -> residual NAIVE arm, predicate verbatim
          // NULL rhs rows match in neither arm, exactly as the
          // NULL-rejecting comparison dropped them in the naive plan.
          // An honest hint keeps the residual side's filtered scan
          // empty via parquet min/max skipping.
          val guard = LessThanOrEqual(r.rhs, r.lit)
          val gj =
            if (r.onLeft) j.copy(left = Filter(guard, j.left))
            else j.copy(right = Filter(guard, j.right))
          Union(Seq(buildGrid(gj, ds, sliver), residualArm(j, r)))
      }
  }

  /** The PBSM grid plan (plus integral wrap-parity slivers) for join
    * `j` — the rewrite body, extracted so the hint path can build it
    * over bound-guarded inputs.
    */
  private def buildGrid(j: Join, ds: Seq[Dim],
      sliver: Option[Sliver]): LogicalPlan = {
    val cond = j.condition.get
    val leftAliases = ds.zipWithIndex.map { case (dim, i) =>
      Alias(dim.leftCell, s"_gridx_l$i")()
    }
    val leftP = Project(j.left.output ++ leftAliases, j.left)
    val offAttrs = ds.indices.map(i =>
      AttributeReference(s"_gridx_d$i", IntegerType, nullable = false)())
    val offsetRows = ds.size match {
      case 1 => (-1 to 1).map(i => new GenericInternalRow(Array[Any](i)))
      case _ => for (i <- -1 to 1; k <- -1 to 1)
        yield new GenericInternalRow(Array[Any](i, k))
    }
    val offsets = LocalRelation(offAttrs, offsetRows)
    val rightX = Join(j.right, offsets, Cross, None, JoinHint.NONE)
    val rightAliases = ds.zipWithIndex.map { case (dim, i) =>
      Alias(dim.rightCell(offAttrs(i)), s"_gridx_r$i")()
    }
    val rightP = Project(j.right.output ++ rightAliases, rightX)
    val eqs = leftAliases.zip(rightAliases)
      .map { case (l, r) => EqualTo(l.toAttribute, r.toAttribute) }
      .reduceLeft[Expression](And(_, _))
    val grid = Project(j.output,
      Join(leftP, rightP, Inner, Some(And(eqs, cond)), j.hint))
    sliver match {
      case None => grid
      case Some(s) => Union(grid +: sliverJoins(j, cond, s))
    }
  }

  /** The residual naive arm of a hint-split rewrite: the ORIGINAL join
    * shape over `rhs > hint` rows, guarded against re-splitting by a
    * `_gridx_h` marker pair — one per side, built from the matched
    * comparison's own coordinate attributes exactly like the sliver
    * markers (non-foldable: each references an attribute, and a
    * SELF-equality of one marker would not survive —
    * SimplifyBinaryComparison rewrites `a = a` to TRUE for a
    * non-nullable `a`, erasing the guard and re-splitting the residual
    * on every fixed-point pass; two DISTINCT attributes cannot be
    * folded). NULL coordinates make a NULL marker and the pair drops —
    * the same rows the NULL-rejecting preserved predicate dropped in
    * the naive plan.
    *
    * The marker is SALTED so the arm parallelizes: a constant-valued
    * marker (`attr * 0` alone) hashes every row to ONE shuffle
    * partition — with a dishonest or undersized hint the residual
    * became a single-task naive join, a skew cliff on exactly the
    * inputs where the hint is wrong. Instead the GUARDED side (empty
    * under an honest hint, so its replication is free there)
    * cross-joins a fanout-row salt relation, and the unguarded side
    * keys on `pmod(hash(coord), fanout)` — every qualifying pair
    * still matches exactly once (the one guarded copy whose salt
    * equals the unguarded row's bucket), and the naive work spreads
    * over fanout tasks. `attr * 0 +` keeps the NULL-drop semantics on
    * both sides.
    */
  private def residualArm(j: Join, r: Residual): LogicalPlan = {
    val fanout = math.max(1, math.min(conf.numShufflePartitions, 64))
    val saltAttr =
      AttributeReference("_gridx_hsalt", IntegerType, nullable = false)()
    val salts = LocalRelation(Seq(saltAttr),
      (0 until fanout).map(i => new GenericInternalRow(Array[Any](i))))
    def nullCarrier(a: Attribute) =
      Multiply(Cast(a, DoubleType), Literal(0.0, DoubleType))
    def bucketMarker(a: Attribute) = Add(nullCarrier(a),
      Cast(new Pmod(new Murmur3Hash(Seq(a)), Literal(fanout)), DoubleType))
    def saltMarker(a: Attribute) =
      Add(nullCarrier(a), Cast(saltAttr, DoubleType))
    val guard = GreaterThan(r.rhs, r.lit)
    val (ml, mr, lp0, rp0) =
      if (r.onLeft) (
        Alias(saltMarker(r.leftAttr), "_gridx_h")(),
        Alias(bucketMarker(r.rightAttr), "_gridx_h")(),
        Join(Filter(guard, j.left), salts, Cross, None, JoinHint.NONE),
        j.right)
      else (
        Alias(bucketMarker(r.leftAttr), "_gridx_h")(),
        Alias(saltMarker(r.rightAttr), "_gridx_h")(),
        j.left,
        Join(Filter(guard, j.right), salts, Cross, None, JoinHint.NONE))
    val lp = Project(j.left.output :+ ml, lp0)
    val rp = Project(j.right.output :+ mr, rp0)
    Project(j.output, Join(lp, rp, Inner,
      Some(And(EqualTo(ml.toAttribute, mr.toAttribute), j.condition.get)),
      JoinHint.NONE))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}
