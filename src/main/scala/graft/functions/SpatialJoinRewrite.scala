package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Rewrite naive spatial-predicate joins into the grid-bucketed plan —
  * the optimizer rule SURVEY.md §4.3 flagged as the one place a custom
  * `Rule[LogicalPlan]` earns its keep.
  *
  * A declarative `A JOIN B ON st_contains(b.geom, a.geom)` (or
  * `st_intersects` / `st_dwithin`) has no equi-conjunct, so Catalyst can
  * only plan a broadcast-nested-loop or cartesian product — |A|·|B|
  * predicate tests, the plan that melts at any scale.
  * This rule rewrites such joins into cell equi-joins automatically, so
  * plain SQL users get the scalable shape (reference analogue: every
  * DuckDB spatial query is declarative, east_asia.py:176-178). Its
  * containment decomposition, [[containment]], also plans the hand-called
  * [[graft.operators.SpatialJoin]] point-in-polygon operators.
  *
  * `st_contains(outer, inner)` — one-sided covering: the inner side keys
  * on its centroid's res-R cell (containment implies envelope
  * containment, so the centroid's cell is always among the outer's
  * covering cells), the outer side explodes its envelope covering — an
  * EQUI-join on the cell plus the exact refine as residual. A true pair
  * shares exactly one such cell, so no dedup is needed.
  *
  * `st_intersects(a, b)` — two-sided covering: BOTH sides explode their
  * envelope coverings and equi-join on the cell. A true pair may share
  * many cells, so the join keeps exactly the REFERENCE cell — the cell
  * of (max(minXa, minXb), max(minYa, minYb)), the lower-left corner of
  * the envelope intersection, which for intersecting envelopes lies in
  * both coverings — making each surviving pair appear exactly once
  * (the standard grid-partitioned spatial-join dedup).
  *
  * `st_dwithin(a, b, d)` (foldable d) — intersects with ONE side's
  * covering padded by d and that side's reference corner shifted by −d:
  * a true pair's padded envelope intersects the other's, so completeness
  * and exactly-once both carry over. Plan statistics choose the padded
  * side (the smaller input — its fan-out multiplies by ~(1+2d/cell)²,
  * so the corpus side stays one covering cell per row).
  *
  * Oversized geometries (covering overflowed the cell cap — empty array;
  * country-scale shapes, few by nature) fall back to broadcast
  * nested-loop branches, so results are IDENTICAL to the naive join,
  * never silently truncated.
  *
  * ==Semi / anti joins==
  *
  * `LEFT SEMI` / `LEFT ANTI` spatial joins — "points inside any region",
  * "points NOT in any licensed polygon" (the standard curation filter and
  * the reference's own validation idiom, the set-difference check of
  * East-Asia-Building-Footprints.md:127-141) — rewrite too:
  *
  *  - probe contained (`st_contains(container, probe)` with the probe on
  *    the semi/anti side): the probe keys on its centroid cell — a SCALAR
  *    per row, so probe multiplicity is untouched — and the container
  *    side explodes its covering; the fine branch is a hash semi/anti
  *    join, oversized containers chain through a broadcast semi/anti.
  *    Semi = fine-semi ∪ (fine-anti ⋉ oversized); anti = fine-anti ▷
  *    oversized — each probe row lands in exactly one branch.
  *  - every other shape (symmetric predicates, probe as container) would
  *    need the PROBE side exploded, which multiplies probe rows; instead
  *    the rewrite materializes the matched probe VALUES once — the probe
  *    columns projected out of the exactly-once Inner decomposition — and
  *    resolves membership with a whole-row null-safe equi semi/anti join
  *    (semi/anti semantics are value-based, so duplicate probe rows
  *    resolve identically; plans whose probe schema contains a MapType
  *    are left to the naive plan — maps aren't joinable keys).
  *
  * `WHERE [NOT] EXISTS (… st_contains(…))` becomes a semi/anti join in
  * the optimizer's RewriteSubquery batch. `GeoSimplify.install` registers
  * this rule as an extra optimization, which Spark runs after that batch,
  * so those joins are rewritten like any other.
  *
  * The rule fires only on joins with no equality conjunct and no user
  * join hint (the coarse branches carry broadcast hints, which also
  * keeps the rewrite from re-matching its own output; the fine branch
  * re-enters with an equi-conjunct and is skipped by the guard).
  * Resolution comes from `spark.graft.spatialjoin.res` (default 10); set
  * `spark.graft.spatialjoin.rewrite=false` to disable. */
object SpatialJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** The decomposition picked off a join condition's conjunct. */
  private sealed trait Pick
  /** One-sided: outer explodes covering, inner keys on centroid cell. */
  private final case class ContainsPick(expr: Expression, outerG: Expression,
      innerG: Expression, outerPlan: LogicalPlan, innerPlan: LogicalPlan)
      extends Pick
  /** Two-sided: both explode coverings; `pad` > 0 for dwithin. */
  private final case class SymmetricPick(expr: Expression, aG: Expression,
      bG: Expression, pad: Double) extends Pick
  /** Geodetic: lat-band grid (st_dwithin_sphere, meters on 4326). */
  private final case class GeodeticPick(expr: Expression, aG: Expression,
      bG: Expression, meters: Double) extends Pick

  private def enabled: Boolean =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.spatialjoin.rewrite", "true").toBoolean

  private def resolution: Int =
    org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.spatialjoin.res", "10").toInt

  private def hasEquiConjunct(left: LogicalPlan, right: LogicalPlan,
      conjuncts: Seq[Expression]): Boolean = conjuncts.exists {
    case Equality(l, r) =>
      (l.references.subsetOf(left.outputSet) &&
        r.references.subsetOf(right.outputSet)) ||
      (l.references.subsetOf(right.outputSet) &&
        r.references.subsetOf(left.outputSet))
    case _ => false
  }

  private def pickFor(left: LogicalPlan, right: LogicalPlan,
      conjuncts: Seq[Expression]): Option[Pick] = {
    def sided(a: Expression, b: Expression): Boolean =
      a.references.nonEmpty && b.references.nonEmpty &&
        a.references.subsetOf(left.outputSet) &&
        b.references.subsetOf(right.outputSet)
    conjuncts.collectFirst {
      case c @ StContains(o, i) if sided(i, o) =>
        ContainsPick(c, o, i, outerPlan = right, innerPlan = left)
      case c @ StContains(o, i) if sided(o, i) =>
        ContainsPick(c, o, i, outerPlan = left, innerPlan = right)
      // st_within(a, b) ≡ st_contains(b, a): the original expression
      // refines identically, only the covering/centroid roles swap
      case c @ StWithin(i, o) if sided(i, o) =>
        ContainsPick(c, o, i, outerPlan = right, innerPlan = left)
      case c @ StWithin(i, o) if sided(o, i) =>
        ContainsPick(c, o, i, outerPlan = left, innerPlan = right)
      case c @ StIntersects(a, b) if sided(a, b) =>
        SymmetricPick(c, a, b, pad = 0.0)
      case c @ StIntersects(a, b) if sided(b, a) =>
        SymmetricPick(c, b, a, pad = 0.0)
      case c @ StDWithin(a, b, d) if d.foldable && sided(a, b) &&
          distOf(d) > 0 =>
        SymmetricPick(c, a, b, pad = distOf(d))
      case c @ StDWithin(a, b, d) if d.foldable && sided(b, a) &&
          distOf(d) > 0 =>
        SymmetricPick(c, b, a, pad = distOf(d))
      // geodetic: only while one lat band stays ≤10° (the grid's
      // contract) — a continent-scale radius keeps the naive plan
      case c @ StDWithinSphere(a, b, d) if d.foldable && sided(a, b) &&
          distOf(d) > 0 && geodeticBandOk(distOf(d)) =>
        GeodeticPick(c, a, b, meters = distOf(d))
      case c @ StDWithinSphere(a, b, d) if d.foldable && sided(b, a) &&
          distOf(d) > 0 && geodeticBandOk(distOf(d)) =>
        GeodeticPick(c, b, a, meters = distOf(d))
    }
  }

  private def geodeticBandOk(meters: Double): Boolean =
    meters / (graft.geom.GeomLib.EarthRadiusM * math.Pi / 180.0) <= 10.0

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    val res = resolution
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint)
          if hint == JoinHint.NONE =>
        val conjuncts = splitConjunctivePredicates(cond)
        if (hasEquiConjunct(left, right, conjuncts)) j
        else pickFor(left, right, conjuncts) match {
          case Some(pick) =>
            rewriteInner(j.output, left, right, conjuncts, pick, res)
          case None => j
        }
      case j @ Join(left, right, jt @ (LeftSemi | LeftAnti), Some(cond), hint)
          if hint == JoinHint.NONE =>
        rewriteSemiAnti(left, right, jt, cond, res).getOrElse(j)
    }
  }

  /** The containment decomposition — the one copy, serving both contains
    * picks of this rule and [[graft.operators.SpatialJoin]]'s
    * point-in-polygon operators. `probeKey` (the probe row's one cell)
    * and `covering` (the container's cells, empty past the cell cap) are
    * the lattice: rect grid or H3. `condition` is the exact predicate
    * plus any residual conjuncts.
    *
    * The fine branch equi-joins the keyed probe with the exploded
    * covering and refines with `condition`; a true pair shares exactly
    * one cell. The coarse branch, when asked for, joins the probe with
    * the broadcast containers whose covering overflowed. Inner returns
    * fine ∪ coarse over `probe.output ++ container.output`; semi is
    * fine-semi ∪ (fine-anti ⋉ oversized) and anti is fine-anti ▷
    * oversized, each over `probe.output`, so every probe row lands in
    * exactly one branch and its multiplicity is untouched. */
  private[graft] def containment(probe: LogicalPlan, container: LogicalPlan,
      containerG: Expression, condition: Seq[Expression], joinType: JoinType,
      probeKey: Expression, covering: Expression, coarse: Boolean)
      : LogicalPlan = {
    // the key is projected once per probe row and wrapped in
    // coalesce(key, -1): a nullable key lets Catalyst infer an
    // IsNotNull(key) filter and push it into the probe scan, where filter
    // and project would each run the WKB decode + cell encode. The -1
    // sentinel matches no cell, so null geometries still drop at the join.
    val key = Alias(Coalesce(Seq(probeKey, Literal(-1L))), "__graft_key")()
    val keyed = Project(probe.output :+ key, probe)
    // explode_OUTER + IsNotNull, not a plain explode: the latter lets
    // InferFiltersFromGenerate add `isnotnull(covering) AND
    // size(covering) > 0` below the generate, evaluating the covering
    // three times per container instead of once
    val cell = AttributeReference("__graft_cell", LongType)()
    val gridable = Filter(IsNotNull(cell), Generate(Explode(covering), Nil,
      outer = true, qualifier = None, generatorOutput = Seq(cell),
      child = container))
    def fine(jt: JoinType): LogicalPlan = Join(keyed, gridable, jt,
      Some((EqualTo(key.toAttribute, cell) +: condition).reduce(And(_, _))),
      JoinHint.NONE)
    def withCoarse(left: LogicalPlan, jt: JoinType): LogicalPlan =
      Join(left, oversized(container, containerG, covering), jt,
        Some(condition.reduce(And(_, _))),
        JoinHint(None, Some(HintInfo(Some(BROADCAST)))))
    val both = probe.output ++ container.output
    joinType match {
      case Inner if coarse => Union(Seq(Project(both, fine(Inner)),
        Project(both, withCoarse(probe, Inner))))
      case Inner => Project(both, fine(Inner))
      case LeftSemi if coarse => Project(probe.output, Union(Seq(
        fine(LeftSemi), withCoarse(fine(LeftAnti), LeftSemi))))
      case LeftAnti if coarse =>
        Project(probe.output, withCoarse(fine(LeftAnti), LeftAnti))
      case LeftSemi | LeftAnti => Project(probe.output, fine(joinType))
      case other => throw new IllegalArgumentException(
        s"containment supports Inner, LeftSemi and LeftAnti, not $other")
    }
  }

  /** The containers whose covering overflowed the cell cap (an empty
    * covering on a non-null geometry; a null geometry contains nothing). */
  private[graft] def oversized(container: LogicalPlan,
      containerG: Expression, covering: Expression): Filter =
    Filter(And(EqualTo(Size(covering), Literal(0)), IsNotNull(containerG)),
      container)

  private def rectKey(g: Expression, res: Int): Expression =
    GridCell(CentroidX(g), CentroidY(g), Literal(res))

  /** The Inner-join decomposition for a picked spatial conjunct,
    * projected to `output`. */
  private def rewriteInner(output: Seq[Attribute], left: LogicalPlan,
      right: LogicalPlan, conjuncts: Seq[Expression], pick: Pick,
      res: Int): LogicalPlan = pick match {
    case ContainsPick(containsExpr, outerG, innerG, gSide, pSide) =>
      // the rule cannot probe for oversized outers, so the coarse branch
      // is always planned; AQE drops it when its broadcast comes back empty
      Project(output, containment(pSide, gSide, outerG,
        containsExpr +: conjuncts.filterNot(_ eq containsExpr), Inner,
        rectKey(innerG, res), CellsCovering(outerG, Literal(res)),
        coarse = true))
    case GeodeticPick(predExpr, aG, bG, meters) =>
      // built with the DataFrame API over the SAME child plans
      // (SparkInternals.ofRows preserves attribute identity), so the
      // lat-band logic lives in exactly one place —
      // SpatialJoin.distanceJoinGeodeticCols. Coordinates are the
      // centroid lon/lat (ST_DistanceSphere point semantics), projected
      // once per row before the band explode.
      import org.apache.spark.sql.graft.SparkInternals
      val spark = org.apache.spark.sql.SparkSession.active
      val residual = conjuncts.filterNot(_ eq predExpr)
      // the band join replicates its SECOND frame ≤9× — put the smaller
      // input there (plan stats), same discipline as the dwithin pad
      val rightSmaller = right.stats.sizeInBytes <= left.stats.sizeInBytes
      val (bigP, bigG, smallP, smallG) =
        if (rightSmaller) (left, aG, right, bG) else (right, bG, left, aG)
      val joined = graft.operators.SpatialJoin.distanceJoinGeodeticCols(
        SparkInternals.ofRows(spark, bigP),
        SparkInternals.ofRows(spark, smallP), meters,
        SparkInternals.column(CentroidX(bigG)),
        SparkInternals.column(CentroidY(bigG)),
        SparkInternals.column(CentroidX(smallG)),
        SparkInternals.column(CentroidY(smallG)))
      val withResidual = residual.foldLeft(joined)((df, e) =>
        df.filter(SparkInternals.column(e)))
      withResidual.select(output.map(a =>
        SparkInternals.column(a)): _*).queryExecution.analyzed
    case SymmetricPick(predExpr, aG, bG, pad) =>
      val residual = conjuncts.filterNot(_ eq predExpr)
      val pred = (predExpr +: residual).reduce(And(_, _))
      // the d-pad multiplies ONE side's covering by ~(1 + 2d/cell)²;
      // put it on the smaller input (by plan stats) so the cheap
      // side fans out and the corpus side stays one-cell-per-row —
      // the predicate is symmetric, so the choice is free
      val padLeft = pad == 0.0 ||
        left.stats.sizeInBytes <= right.stats.sizeInBytes
      def padded(g: Expression): Expression =
        CellsCoveringPad(g, Literal(res), Literal(pad))
      val cellsA: Expression =
        if (pad == 0.0 || !padLeft) CellsCovering(aG, Literal(res))
        else padded(aG)
      val cellsB: Expression =
        if (pad == 0.0 || padLeft) CellsCovering(bG, Literal(res))
        else padded(bG)
      val cellA = AttributeReference("__graft_cell_a", LongType,
        nullable = false)()
      val cellB = AttributeReference("__graft_cell_b", LongType,
        nullable = false)()
      // envelope min corners are projected ONCE per input row (one
      // WKB decode each), BEFORE the explode replicates them as
      // cheap doubles — the dedup predicate then touches only
      // attributes, never re-decoding geometry per candidate pair.
      // The −pad shift follows whichever side carries the padded
      // covering (its effective envelope is the expanded one).
      def minusPad(e: Expression, on: Boolean): Expression =
        if (pad == 0.0 || !on) e else Subtract(e, Literal(pad))
      val ax = Alias(minusPad(EnvMinX(aG), padLeft), "__graft_ax")()
      val ay = Alias(minusPad(EnvMinY(aG), padLeft), "__graft_ay")()
      val bx = Alias(minusPad(EnvMinX(bG), !padLeft), "__graft_bx")()
      val by = Alias(minusPad(EnvMinY(bG), !padLeft), "__graft_by")()
      val genA = Generate(Explode(cellsA), Nil, outer = false,
        qualifier = None, generatorOutput = Seq(cellA),
        child = Project(left.output ++ Seq(ax, ay), left))
      val genB = Generate(Explode(cellsB), Nil, outer = false,
        qualifier = None, generatorOutput = Seq(cellB),
        child = Project(right.output ++ Seq(bx, by), right))
      // exactly-once: keep only the envelope-intersection corner cell
      val refX = Greatest(Seq(ax.toAttribute, bx.toAttribute))
      val refY = Greatest(Seq(ay.toAttribute, by.toAttribute))
      val dedup = EqualTo(cellA, GridCell(refX, refY, Literal(res)))
      val fineCond = (EqualTo(cellA, cellB) +: dedup +: pred +: Nil)
        .reduce(And(_, _))
      val fine = Project(output,
        Join(genA, genB, Inner, Some(fineCond), JoinHint.NONE))
      // coarse branches: (oversized a) × all b, plus (fit a) ×
      // (oversized b) — a disjoint split of the non-fine pair space
      val aOver = oversized(left, aG, cellsA)
      val aFit = Filter(Not(aOver.condition), left)
      val bOver = oversized(right, bG, cellsB)
      val coarse1 = Project(output,
        Join(aOver, right, Inner, Some(pred),
          JoinHint(Some(HintInfo(Some(BROADCAST))), None)))
      val coarse2 = Project(output,
        Join(aFit, bOver, Inner, Some(pred),
          JoinHint(None, Some(HintInfo(Some(BROADCAST))))))
      Union(Seq(fine, coarse1, coarse2))
  }

  /** The semi/anti decomposition (see class doc); None leaves the join
    * to the default planner. */
  private def rewriteSemiAnti(left: LogicalPlan, right: LogicalPlan,
      joinType: JoinType, cond: Expression, res: Int): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    if (hasEquiConjunct(left, right, conjuncts)) return None
    pickFor(left, right, conjuncts) match {
      case Some(ContainsPick(c, o, i, _, pSide)) if pSide eq left =>
        // probe is the CONTAINED side: scalar centroid-cell key on the
        // probe (multiplicity untouched), covering explode on the
        // container side, fine/coarse chained
        Some(containment(left, right, o, c +: conjuncts.filterNot(_ eq c),
          joinType, rectKey(i, res), CellsCovering(o, Literal(res)),
          coarse = true))
      case Some(pick) =>
        // membership via matched probe VALUES: project the probe columns
        // out of the exactly-once Inner decomposition (fresh exprIds so
        // the outer semi/anti join's sides stay disjoint) and resolve
        // with a whole-row null-safe hash semi/anti join. Value-based is
        // EXACT for semi/anti semantics: identical probe rows match
        // identically. Maps aren't joinable — leave those to the naive
        // plan.
        def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean =
          dt match {
            case _: org.apache.spark.sql.types.MapType => true
            case s: org.apache.spark.sql.types.StructType =>
              s.fields.exists(f => hasMap(f.dataType))
            case a: org.apache.spark.sql.types.ArrayType =>
              hasMap(a.elementType)
            case _ => false
          }
        if (left.output.isEmpty || left.output.exists(a =>
          hasMap(a.dataType))) return None
        val inner = rewriteInner(left.output, left, right, conjuncts,
          pick, res)
        val fresh = left.output.map(a => Alias(a, a.name)())
        val matched = Project(fresh, inner)
        val eq: Expression = left.output.zip(fresh.map(_.toAttribute))
          .map { case (a, b) => EqualNullSafe(a, b): Expression }
          .reduce(And(_, _))
        Some(Join(left, matched, joinType, Some(eq), JoinHint.NONE))
      case None => None
    }
  }

  private def distOf(d: Expression): Double = d.eval() match {
    case n: Number => n.doubleValue
    case _ => -1.0
  }
}
