package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Algebraic simplification of geometry expression trees — the engine's one
  * custom optimizer rule.
  *
  * Queries compose constructors and accessors freely
  * (`st_x(st_centroid(st_point(x, y)))`); without rewriting, every such
  * chain encodes WKB, decodes it into a JTS object, and re-encodes — pure
  * overhead that scales linearly with the 100 TB row count. The rewrites
  * here fuse constructor→accessor pairs into plain column arithmetic that
  * whole-stage codegen compiles away entirely. All rewrites are bit-exact:
  * WKB stores doubles verbatim, `squareWkb` corners are computed as
  * `cx ± h` (exactly what the fused expression emits), and the centroid of
  * a point/axis-aligned square is its center by construction.
  *
  * Null semantics are preserved: a constructor is null iff any input is
  * null, so fused accessors guard on the inputs that no longer appear in
  * the result expression.
  */
object GeoSimplify extends Rule[LogicalPlan] {

  /** Result `res` plus null-propagation from dropped dependencies. */
  private def guard(res: Expression, dropped: Seq[Expression]): Expression = {
    val nullable = dropped.filter(_.nullable)
    if (nullable.isEmpty) res
    else If(nullable.map(IsNull(_): Expression).reduce(Or(_, _)),
      Literal.create(null, res.dataType), res)
  }

  private def sub(a: Expression, b: Expression) = Subtract(a, b, evalMode = EvalMode.LEGACY)
  private def add(a: Expression, b: Expression) = Add(a, b, evalMode = EvalMode.LEGACY)

  private def isAccessor(e: Expression): Boolean = e match {
    case _: StX | _: StY | _: StXMin | _: StXMax | _: StYMin | _: StYMax |
        _: StCentroid | _: StForce2D | _: WkbShapeType => true
    case _ => false
  }

  private def isFusableBranch(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case e if isCtor(e) => true
    case _ => false
  }

  /** Re-apply the rewrite set to a freshly built subtree (used when pushing
    * accessors into conditional branches creates new accessor(ctor) pairs). */
  private def fuse(e: Expression): Expression = e.transformUp(rewrites)

  private lazy val rewrites: PartialFunction[Expression, Expression] = {
    // centroid/force2d of constructors
    case StCentroid(p @ StPoint(_, _))       => p
    case StCentroid(StMakeSquare(x, y, h))   => guard(StPoint(x, y), Seq(h))
    case StCentroid(StMultiPoint1(x, y))     => StPoint(x, y)
    case StForce2D(p @ StPoint(_, _))        => p
    case StForce2D(StPointZ(x, y, z))        => guard(StPoint(x, y), Seq(z))
    // accessors over point constructors
    case StX(StPoint(x, y))                  => guard(x, Seq(y))
    case StY(StPoint(x, y))                  => guard(y, Seq(x))
    case StXMin(StPoint(x, y))               => guard(x, Seq(y))
    case StXMax(StPoint(x, y))               => guard(x, Seq(y))
    case StYMin(StPoint(x, y))               => guard(y, Seq(x))
    case StYMax(StPoint(x, y))               => guard(y, Seq(x))
    // envelope of an axis-aligned square: corners are cx ± h bit-exactly
    case StXMin(StMakeSquare(x, y, h))       => guard(sub(x, h), Seq(y))
    case StXMax(StMakeSquare(x, y, h))       => guard(add(x, h), Seq(y))
    case StYMin(StMakeSquare(x, y, h))       => guard(sub(y, h), Seq(x))
    case StYMax(StMakeSquare(x, y, h))       => guard(add(y, h), Seq(x))
    // no-op transform
    case StTransform(g, Literal(a, _), Literal(b, _)) if a == b => g
    // fuse accessor-of-centroid (and the full Hilbert clustering key) into
    // single-WKB-pass forms — ctor cases above fire first bottom-up, so
    // these only catch real geometry columns
    case StX(StCentroid(g)) => CentroidX(g)
    case StY(StCentroid(g)) => CentroidY(g)
    case HilbertEncode(CentroidY(g1), CentroidX(g2)) if g1.semanticEquals(g2) =>
      HilbertOfGeom(g1)
    // shape-type of a known constructor is a constant (byte-level contract)
    case WkbShapeType(StPoint(x, y))          => guard(Literal(1), Seq(x, y))
    case WkbShapeType(StMultiPoint1(x, y))    => guard(Literal(4), Seq(x, y))
    case WkbShapeType(StMakeSquare(x, y, h))  => guard(Literal(3), Seq(x, y, h))
    case WkbShapeType(StPointZ(x, y, z))      => guard(Literal(233), Seq(x, y, z))
    // accessors distribute over conditionals: the branches are where the
    // constructors live when queries build geometry with when/otherwise
    case acc: UnaryExpression if isAccessor(acc) =>
      acc.child match {
        case If(p, a, b) if isFusableBranch(a) || isFusableBranch(b) =>
          If(p, fuse(acc.withNewChildren(Seq(a))), fuse(acc.withNewChildren(Seq(b))))
        case CaseWhen(branches, elseValue)
            if branches.exists(br => isFusableBranch(br._2)) ||
              elseValue.exists(isFusableBranch) =>
          CaseWhen(
            branches.map { case (c, v) => (c, fuse(acc.withNewChildren(Seq(v)))) },
            elseValue.map(v => fuse(acc.withNewChildren(Seq(v)))))
        case Literal(null, _) => Literal.create(null, acc.dataType)
        case _ => acc
      }
  }

  private def isCtor(e: Expression): Boolean = e match {
    case _: StPoint | _: StPointZ | _: StMakeSquare | _: StMultiPoint1 => true
    case _ => false
  }

  /** A constructor possibly wrapped in conditionals — the shape
    * `withColumn("geom", when(p, null).otherwise(st_point(…)))` produces.
    * Inlining these too lets the accessor-distribute rewrite push accessors
    * into the branches and eliminate the WKB round-trip per row. */
  private def isCtorish(e: Expression): Boolean = e match {
    case e if isCtor(e) => true
    case If(_, a, b) => isCtorish(a) || isCtorish(b)
    case CaseWhen(branches, elseValue) =>
      branches.exists(br => isCtorish(br._2)) || elseValue.exists(isCtorish)
    case _ => false
  }

  /** Constructor-ish aliases of a Project, ready for inlining. */
  private def ctorAliases(
      lower: Seq[NamedExpression]): Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression] =
    lower.collect {
      // deterministic only: inlining duplicates the expression into every
      // referencing consumer, and non-deterministic copies (st_point(rand(),
      // y)) would evaluate independently — CollapseProject's own guard
      case a: Alias if isCtorish(a.child) && a.child.deterministic => a.exprId -> a.child
    }.toMap

  private def inlineInto(e: Expression, ctors: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Expression]): Expression =
    e.transformUp {
      case attr: Attribute if ctors.contains(attr.exprId) => ctors(attr.exprId)
    }

  /** CollapseProject declines to merge projects when an aliased geometry
    * constructor is referenced many times (it would duplicate the
    * expression), so accessor patterns never meet their constructors.
    * Inline constructor aliases from a child Project into the parent
    * expressions (whole-stage codegen's subexpression elimination dedupes
    * any residual duplicates), restoring the constructor's inputs to the
    * child project when the grandchild still provides them. */
  private def inlineCtors(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // Filter over a Project that aliases a (conditional) constructor: the
    // predicate is where null-geometry/accessor probes live (p4's
    // null-centroid filter). The Project itself is untouched — column
    // pruning drops the alias when nothing else consumes it.
    case f @ org.apache.spark.sql.catalyst.plans.logical.Filter(cond,
        pc @ org.apache.spark.sql.catalyst.plans.logical.Project(lower, _)) =>
      val ctors = ctorAliases(lower)
      val newCond = if (ctors.isEmpty) cond else inlineInto(cond, ctors)
      if (ctors.isEmpty || !newCond.references.subsetOf(pc.outputSet)) f
      else org.apache.spark.sql.catalyst.plans.logical.Filter(newCond, pc)

    // Aggregate over a Project with constructor aliases: min/max envelope
    // aggregates (bbox probes) reference the geometry attribute inside
    // their aggregate expressions. The Aggregate is the SOLE consumer of
    // its child's output, so the Project can be rebuilt too: dead ctor
    // aliases dropped, newly-referenced input attributes passed through
    // (column pruning upstream may have narrowed the Project to just the
    // geometry — un-prune what the fused arithmetic needs).
    case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
      ag.child match {
        case pc @ org.apache.spark.sql.catalyst.plans.logical.Project(lower, grandchild) =>
          val allCtors = ctorAliases(lower)
          // A ctor alias that is grouped on as a BARE reference must stay an
          // attribute everywhere: `groupBy(geom).agg(…)` keeps `geom` in the
          // result list (the bare-Attribute case below), so inlining it into
          // groupingExpressions would leave a result attribute that matches
          // no grouping expression — an Aggregate that fails attribute
          // binding at physical planning. Dropping such ctors from the map
          // keeps grouping, outputs, and accessor uses consistent; only
          // accessor-wrapped uses (min(st_x(geom))) of the REMAINING ctors
          // are fused.
          val groupedBare = ag.groupingExpressions.collect {
            case a: Attribute if allCtors.contains(a.exprId) => a.exprId
          }.toSet
          val ctors = allCtors -- groupedBare
          if (ctors.isEmpty) ag
          else {
            val newGroup = ag.groupingExpressions.map(inlineInto(_, ctors))
            val newAggs = ag.aggregateExpressions.map {
              case attr: Attribute => attr // keep bare passthrough attributes named
              case ne => inlineInto(ne, ctors).asInstanceOf[NamedExpression]
            }
            val refs = (newGroup ++ newAggs).flatMap(_.references).distinct
            val fromChild = refs.filterNot(pc.outputSet.contains)
            if (fromChild.forall(grandchild.outputSet.contains)) {
              val stillUsed = refs.map(_.exprId).toSet
              val keptLower = lower.filter {
                case a: Alias if ctors.contains(a.exprId) => stillUsed.contains(a.exprId)
                case ne => stillUsed.contains(ne.exprId)
              }
              val newLower = keptLower ++ fromChild.filterNot(a =>
                keptLower.exists(_.toAttribute.exprId == a.exprId))
              ag.copy(groupingExpressions = newGroup,
                aggregateExpressions = newAggs,
                child = org.apache.spark.sql.catalyst.plans.logical.Project(newLower, grandchild))
            } else ag
          }
        case _ => ag
      }

    case p @ org.apache.spark.sql.catalyst.plans.logical.Project(upper,
        pc @ org.apache.spark.sql.catalyst.plans.logical.Project(lower, grandchild)) =>
      val ctors = ctorAliases(lower)
      if (ctors.isEmpty) p
      else {
        val newUpper = upper.map {
          case attr: Attribute => attr // keep bare projections of the geometry
          case ne => inlineInto(ne, ctors).asInstanceOf[NamedExpression]
        }
        val lowerOut = lower.map(_.toAttribute.exprId).toSet
        val needed = newUpper.flatMap(_.references).filterNot(a => lowerOut.contains(a.exprId))
        if (needed.forall(a => grandchild.outputSet.contains(a))) {
          val stillUsed = newUpper.flatMap(_.references.map(_.exprId)).toSet
          val keptLower = lower.filter {
            case a: Alias if ctors.contains(a.exprId) => stillUsed.contains(a.exprId)
            case _ => true
          }
          val newLower = keptLower ++ needed.distinct.filterNot(a =>
            keptLower.exists(_.toAttribute.exprId == a.exprId))
          org.apache.spark.sql.catalyst.plans.logical.Project(newUpper,
            org.apache.spark.sql.catalyst.plans.logical.Project(newLower, grandchild))
        } else p
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    inlineCtors(plan).transformUp { case node => node.transformExpressionsUp(rewrites) }

  /** Install into an existing session (idempotent): this rule and
    * [[SpatialJoinRewrite]] run as extra optimizations, after Spark's
    * own batches — RewriteSubquery included, so the rewrite also sees the
    * semi/anti joins that `[NOT] EXISTS` subqueries become. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(GeoSimplify)) {
      spark.experimental.extraOptimizations =
        cur :+ GeoSimplify :+ SpatialJoinRewrite
    }
  }
}
