package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: automatic bucketed range join. An inner join whose
  * ONLY cross-side predicates are interval bounds —
  * `p.t >= i.lo AND p.t < i.hi` (any operand order; `<= hi` also
  * supported) — has no equi-key, so Spark plans a broadcast nested loop:
  * O(points × intervals) comparisons, dead at scale. This rule rewrites
  * it into the bucketed form of [[graft.operators.RangeJoin]]
  * automatically (the same optimization Databricks SQL applies given a
  * range-join hint): floor-bucket the point, explode each interval into
  * the buckets it covers, equi-join on the bucket, keep the original
  * bounds as the exact recheck. Every true pair shares a bucket (floor
  * division + full cover sequence), and the recheck drops bucket-only
  * collisions — results are identical, but the join is a shuffle-or-
  * broadcast HASH join keyed on bucket.
  *
  * Opt-in via `spark.graft.rangeJoin.bucketWidth` (long > 0; the session
  * owner picks ~the median interval span — too small explodes interval
  * fan-out, too large wastes recheck work). Guards:
  *  - inner joins only (outer variants change row multiplicity on
  *    non-matches — the rewrite's extra project/generate must not touch
  *    them);
  *  - fires only when NO cross-side equi-conjunct exists (with one,
  *    Spark already hash-joins — bucketing could only add fan-out);
  *  - bound and point expressions must be LongType (epoch micros, ids);
  *    floor division is exact for negatives via `(x − pmod(x, w)) div w`;
  *  - null bounds/points fall out exactly as in the theta join: a null
  *    sequence explodes to zero rows, a null bucket key never equi-joins.
  */
object RangeJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  val ConfKey = "spark.graft.rangeJoin.bucketWidth"

  private final case class Bounds(point: Expression, lower: Expression,
      upper: Expression, upperInclusive: Boolean)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width =
      try conf.getConfString(ConfKey, "0").toLong
      catch { case _: NumberFormatException => 0L }
    if (width <= 0) return plan
    plan.transform {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        rewrite(j, left, right, cond, hint, width).getOrElse(j)
    }
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      cond: Expression, hint: JoinHint, w: Long): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def fromLeft(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(left.outputSet)
    def fromRight(e: Expression) =
      e.references.nonEmpty && e.references.subsetOf(right.outputSet)

    // with any cross-side equi-conjunct, Spark already hash-joins
    val hasEquiKey = conjuncts.exists {
      case EqualTo(a, b) => (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))
      case EqualNullSafe(a, b) => (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))
      case _ => false
    }
    if (hasEquiKey) return None

    def oneSided(e: Expression) = e.dataType == LongType && (fromLeft(e) || fromRight(e))
    // normalize each conjunct to (point, bound, kind); kind: 0 = lower
    // inclusive/strict, 1 = upper exclusive, 2 = upper inclusive
    def normalized(c: Expression): Option[(Expression, Expression, Int)] = c match {
      case GreaterThanOrEqual(a, b) if oneSided(a) && oneSided(b) => Some((a, b, 0))
      case LessThanOrEqual(a, b) if oneSided(a) && oneSided(b) => Some((b, a, 0))
      case GreaterThan(a, b) if oneSided(a) && oneSided(b) => Some((b, a, 1))
      case LessThan(a, b) if oneSided(a) && oneSided(b) => Some((a, b, 1))
      case _ => None
    }
    val lowers = conjuncts.flatMap(normalized).collect { case (p, b, 0) => (p, b) }
    // `t < hi` normalizes to kind 1 via LessThan(t, hi); `t <= hi` is
    // LessThanOrEqual(t, hi) → kind 0 with roles (hi, t)?? — no: kind 0
    // means point >= bound. `t <= hi` arrives as (hi, t, 0) i.e. hi >= t,
    // so an upper-inclusive bound appears as a kind-0 pair whose "point"
    // is the bound side. Disambiguate by which pairing lines up with a
    // matching lower bound below.
    val uppersExcl = conjuncts.flatMap(normalized).collect { case (p, b, 1) => (p, b) }

    // pick a (lower, upper) pair sharing the same point expression with
    // bounds on the single opposite side
    val candidates = for {
      (pt, lo) <- lowers
      (pt2, hi, inclusive) <-
        uppersExcl.map { case (p, b) => (p, b, false) } ++
          lowers.map { case (b, p) => (p, b, true) } // hi >= t read as t <= hi
      if pt.semanticEquals(pt2)
      if (fromLeft(pt) && fromRight(lo) && fromRight(hi)) ||
        (fromRight(pt) && fromLeft(lo) && fromLeft(hi))
      if !lo.semanticEquals(hi) || !inclusive // skip degenerate self-pairs
    } yield Bounds(pt, lo, hi, inclusive)

    // every remaining conjunct must not be cross-side beyond the bounds —
    // an extra cross-side theta predicate is fine (it stays in the
    // recheck), so no further structural requirement.
    candidates.headOption.map { b =>
      val pointOnLeft = fromLeft(b.point)
      def floorDiv(x: Expression): Expression =
        IntegralDivide(Subtract(x, Pmod(x, Literal(w))), Literal(w))
      val ptBucket = Alias(floorDiv(b.point), "__graft_pt_bucket")()
      val stop = if (b.upperInclusive) b.upper else Subtract(b.upper, Literal(1L))
      // Sequence is TimeZoneAware — without an explicit zone the node is
      // unresolved and the optimizer's plan-integrity check rejects it.
      // Guard the generator against EMPTY intervals (lo > hi, malformed
      // rows): Sequence with step=None auto-picks step -1 there and
      // generates a DESCENDING bucket range — correct-but-useless rows
      // the recheck discards, and a wildly inverted interval (lo >> hi)
      // materializes a huge array that can OOM an executor where the
      // original nested-loop join handled the row harmlessly. An empty
      // interval must explode to zero rows.
      val startBucket = floorDiv(b.lower)
      val stopBucket = floorDiv(stop)
      val gen = Explode(If(LessThanOrEqual(startBucket, stopBucket),
        Sequence(startBucket, stopBucket, None, Some(conf.sessionLocalTimeZone)),
        Literal.create(Array.empty[Long],
          org.apache.spark.sql.types.ArrayType(LongType, containsNull = false))))
      val genAttr = AttributeReference("__graft_iv_bucket",
        LongType, nullable = false)()
      def project(side: LogicalPlan) =
        Project(side.output :+ ptBucket, side)
      def generate(side: LogicalPlan) =
        Generate(gen, Nil, outer = false, None, Seq(genAttr), side)
      val (newLeft, newRight) =
        if (pointOnLeft) (project(left), generate(right))
        else (generate(left), project(right))
      val bucketEq = EqualTo(ptBucket.toAttribute, genAttr)
      val joined = Join(newLeft, newRight, Inner,
        Some(And(bucketEq, cond)), hint)
      Project(left.output ++ right.output, joined)
    }
  }
}
