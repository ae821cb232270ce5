package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/**
 * Optimizer rule: rewrite an inner join carrying a range-containment
 * condition `lo <= pt AND pt <= hi` (point on one side, interval bounds on
 * the other) into the binned form — the interval side explodes into
 * fixed-width bins and an extra `bin = bin` equality joins the two sides —
 * so Catalyst gets a hash key where it otherwise falls back to a nested
 * loop (no equi keys) or a per-key cartesian (hot equi keys).
 *
 * Exactly the plan `TemporalJoins.rangeJoinBinned` builds by hand, derived
 * automatically. Semantics preserved: a contained point's bin always lies
 * in the exploded bin range (floor is monotone), each matching pair meets
 * on exactly ONE bin (the point has a single bin value), and the original
 * condition still rides the join, so bin-granular false candidates are
 * filtered where the hand-built operator filters them.
 *
 * Opt-in: set `spark.graft.rangeJoin.binWidth` (in the point column's
 * unit); unset → the rule is a no-op. Registered by
 * [[graft.GraftExtensions]] via `injectOptimizerRule`.
 */
case class RangeJoinBinRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private val BinP = "__graft_bin_p"
  private val BinI = "__graft_bin_i"

  // unparsable or non-positive values disable the rule instead of failing
  // every query on the session during optimization
  private def binWidth: Option[Long] =
    spark.conf.getOption("spark.graft.rangeJoin.binWidth")
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .filter(_ > 0)

  override def apply(plan: LogicalPlan): LogicalPlan = binWidth match {
    case None => plan
    case Some(w) =>
      plan.transformUp {
        case j @ Join(_, _, Inner, Some(cond), _) if !alreadyRewritten(cond) =>
          rewrite(j, cond, w).getOrElse(j)
      }
  }

  private def alreadyRewritten(cond: Expression): Boolean =
    cond.references.exists(a => a.name == BinP || a.name == BinI)

  /** true = expression is computable from `p` alone */
  private def from(e: Expression, p: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(p.outputSet)

  private def numeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[NumericType] && e.deterministic

  private def rewrite(j: Join, cond: Expression, w: Long): Option[LogicalPlan] = {
    // normalize every inequality conjunct to (small <= big)
    val ineqs = splitConjunctivePredicates(cond).collect {
      case LessThanOrEqual(a, b) => (a, b)
      case GreaterThanOrEqual(a, b) => (b, a)
    }
    // find lo <= pt and pt <= hi with pt on one side, lo/hi on the other
    val candidates = for {
      (lo, pt1) <- ineqs
      (pt2, hi) <- ineqs
      if pt1.semanticEquals(pt2) && numeric(pt1) && numeric(lo) && numeric(hi)
      ptOnLeft <- (from(pt1, j.left), from(lo, j.right) && from(hi, j.right),
          from(pt1, j.right), from(lo, j.left) && from(hi, j.left)) match {
        case (true, true, _, _) => Some(true)
        case (_, _, true, true) => Some(false)
        case _ => None
      }
    } yield (pt1, lo, hi, ptOnLeft)

    candidates.headOption.map { case (pt, lo, hi, ptOnLeft) =>
      val (pointSide, intervalSide) = if (ptOnLeft) (j.left, j.right) else (j.right, j.left)
      def binOf(e: Expression): Expression =
        Floor(Divide(Cast(e, DoubleType), Literal(w.toDouble)))

      val binPAlias = Alias(binOf(pt), BinP)()
      val pointProj = Project(pointSide.output :+ binPAlias, pointSide)

      val binIAttr = AttributeReference(BinI, LongType)()
      // exclude lo > hi rows BEFORE the explode: they can't satisfy the
      // containment predicate, and sequence(start, stop) would throw where
      // the original non-equi join just produced no match
      val wellFormed = Filter(LessThanOrEqual(lo, hi), intervalSide)
      // the time zone is set here because the analyzer that would fill it
      // in does not run again on the optimizer's output; without it the
      // sequence stays unresolved and plan validation fails the query
      val bins = Sequence(binOf(lo), binOf(hi), Some(Literal(1L)),
        Some(conf.sessionLocalTimeZone))
      val gen = Generate(
        Explode(bins),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(binIAttr), child = wellFormed)

      val newCond = And(cond, EqualTo(binPAlias.toAttribute, binIAttr))
      val (nl, nr) = if (ptOnLeft) (pointProj, gen) else (gen, pointProj)
      Project(j.output, Join(nl, nr, Inner, Some(newCond), j.hint))
    }
  }
}
