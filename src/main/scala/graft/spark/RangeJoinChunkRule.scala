package graft.spark

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, ByteType, IntegerType, LongType, ShortType}

/**
 * Catalyst optimizer rule: rewrite a pure range (interval) inner join into
 * a chunked equi-join.
 *
 * A join whose only cross-side predicate is `point BETWEEN lo AND hi`
 * has no equi keys, so Spark plans BroadcastNestedLoopJoin — O(|L|·|R|)
 * comparisons, the canonical 100 TB death sentence for event-to-interval
 * enrichment. This rule applies the same chunking rewrite
 * [[graft.ops.RangeJoin]] offers as an explicit operator, but
 * TRANSPARENTLY and semantics-preserving, to any qualifying logical join
 * (including ones written in plain SQL):
 *
 *   - the point side gains `chunk = floorDiv(point, W)`,
 *   - the bound side explodes `sequence(floorDiv(lo, W), floorDiv(hi, W))`
 *     (empty when lo > hi, matching the original join's zero matches),
 *   - the join becomes `chunkL = chunkR AND <original condition>`, which
 *     ExtractEquiJoinKeys turns into a shuffled hash / sort-merge join,
 *   - a final Project restores the original output attributes.
 *
 * Every original conjunct is re-applied, so the rewrite is exact for any
 * mix of strict/non-strict bounds and extra residual predicates. Chunk
 * width W comes from `spark.graft.rangeJoin.chunkWidth` (off when unset
 * or <= 0, mirroring how other engines gate their range-join optimization
 * behind a hint): pick W ≈ the typical interval length, so each interval
 * explodes into ~2 chunks and shuffle volume is ~|L| + 2|R|.
 *
 * The rule deliberately skips joins that already carry a cross-side
 * equality (hash join handles those, and this also makes the rewrite
 * self-terminating: the rewritten join contains `chunkL = chunkR`).
 *
 * Enable with `spark.sql.extensions=graft.spark.GraftExtensions`.
 */
object RangeJoinChunkRule extends Rule[LogicalPlan] with PredicateHelper {

  val ConfKey = "spark.graft.rangeJoin.chunkWidth"

  private def chunkWidth: Long =
    try SQLConf.get.getConfString(ConfKey, "0").toLong
    catch { case _: NumberFormatException => 0L }

  private val integral = Set[org.apache.spark.sql.types.DataType](
    ByteType, ShortType, IntegerType, LongType)

  /** One inequality conjunct read as "point (from pointSide) is bounded by
    * bound (from the other side)"; `lower` = bound is a lower bound.
    */
  private case class Bound(point: Expression, bound: Expression,
      lower: Boolean, pointFromLeft: Boolean)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val width = chunkWidth
    if (width <= 0) plan
    else plan.transformUp {
      case j @ Join(_, _, Inner, Some(_), _) =>
        rewrite(j, width).getOrElse(j)
    }
  }

  private def rewrite(j: Join, width: Long): Option[LogicalPlan] = {
    val Join(left, right, _, Some(cond), hint) = j
    val conjuncts = splitConjunctivePredicates(cond)

    def sideOf(e: Expression): Option[Boolean] = { // Some(true)=left only
      if (!e.deterministic) None
      else if (e.references.isEmpty) None
      else if (e.references.subsetOf(left.outputSet)) Some(true)
      else if (e.references.subsetOf(right.outputSet)) Some(false)
      else None
    }

    // a cross-side equality means hash join already applies (and marks our
    // own rewritten joins) — leave those alone
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (sideOf(a), sideOf(b)) match {
          case (Some(x), Some(y)) => x != y
          case _ => false
        }
      case EqualNullSafe(a, b) =>
        (sideOf(a), sideOf(b)) match {
          case (Some(x), Some(y)) => x != y
          case _ => false
        }
      case _ => false
    }
    if (hasEqui) return None

    // read each cross-side inequality both ways: a >= b is "a lower-bounded
    // by b" and "b upper-bounded by a"
    def bounds(c: Expression): Seq[Bound] = {
      def mk(p: Expression, b: Expression, lower: Boolean): Seq[Bound] =
        (sideOf(p), sideOf(b)) match {
          case (Some(ps), Some(bs)) if ps != bs &&
              integral.contains(p.dataType) && integral.contains(b.dataType) =>
            Seq(Bound(p, b, lower, ps))
          case _ => Nil
        }
      c match {
        case GreaterThanOrEqual(a, b) => mk(a, b, lower = true) ++ mk(b, a, lower = false)
        case GreaterThan(a, b) => mk(a, b, lower = true) ++ mk(b, a, lower = false)
        case LessThanOrEqual(a, b) => mk(a, b, lower = false) ++ mk(b, a, lower = true)
        case LessThan(a, b) => mk(a, b, lower = false) ++ mk(b, a, lower = true)
        case _ => Nil
      }
    }
    val all = conjuncts.flatMap(bounds)
    val pair = (for {
      lo <- all if lo.lower
      hi <- all if !hi.lower
      if lo.point.semanticEquals(hi.point) && lo.pointFromLeft == hi.pointFromLeft
    } yield (lo, hi)).headOption
    pair.map { case (lo, hi) =>
      val pointFromLeft = lo.pointFromLeft

      def chunkOf(e: Expression): Expression = {
        val el = Cast(e, LongType)
        val w = Literal(width)
        // exact floorDiv (also for negatives): (e - pmod(e, w)) div w
        IntegralDivide(Subtract(el, Pmod(el, w)), w)
      }

      // point side: project an extra chunk column
      val chunkAlias = Alias(chunkOf(lo.point), "__graft_chunk")()
      val pointChild = if (pointFromLeft) left else right
      val newPoint = Project(pointChild.output :+ chunkAlias, pointChild)

      // bound side: explode the covered chunk range (empty when lo > hi —
      // an invalid interval matches nothing, exactly like the original)
      val cLo = chunkOf(lo.bound)
      val cHi = chunkOf(hi.bound)
      // Sequence is TimeZoneAwareExpression: resolution requires a concrete
      // timeZoneId even for integral sequences, so pin the session zone
      val seq = If(LessThanOrEqual(cLo, cHi),
        Sequence(cLo, cHi, Some(Literal(1L)),
          Some(SQLConf.get.sessionLocalTimeZone)),
        Literal.create(Array.empty[Long], ArrayType(LongType, containsNull = false)))
      val genAttr = AttributeReference("__graft_chunk_r", LongType,
        nullable = false)()
      val boundChild = if (pointFromLeft) right else left
      val newBound = Generate(Explode(seq), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(genAttr),
        child = boundChild)

      val newCond = And(EqualTo(chunkAlias.toAttribute, genAttr), cond)
      val newJoin =
        if (pointFromLeft) Join(newPoint, newBound, Inner, Some(newCond), hint)
        else Join(newBound, newPoint, Inner, Some(newCond), hint)
      Project(j.output, newJoin)
    }
  }
}
