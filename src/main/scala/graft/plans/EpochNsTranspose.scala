package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Restores parquet predicate pushdown for the engine's ns-epoch contract
  * (graft.Tables: a timestamp-typed `events.ts` is normalized to int64
  * nanoseconds as `unix_micros(cast(ts)) * 1000`). The normalization makes
  * `ts` a COMPUTED column, so a watermark predicate `ts > C` — the hot
  * path of the reference's incremental extract (mozart_etl/lib/extract/
  * connectors/base.py:71-73) — reaches the scan as an arithmetic
  * expression the data source cannot translate: `PushedFilters: []`, and
  * at scale an every-2-hours watermark pull reads the whole table instead
  * of skipping row groups.
  *
  * This rule transposes the comparison into the RAW column domain at the
  * end of optimization (after PushDownPredicates has already substituted
  * the projection alias into the filter condition sitting on the scan):
  *
  *   unix_micros(raw) * 1000 > C   ⇔   raw > floorDiv(C, 1000) µs
  *
  * — exact for every integer C (strict `>` on integers: u*1000 > C ⇔
  * u > floor(C/1000); dual forms for >=, <, <=, and = below), so the
  * rewritten predicate is a bare-attribute comparison the parquet source
  * pushes down (row-group stats + page skipping). The µs literal is built
  * in the attribute's own type; the NTZ-cast shape is only matched when
  * the cast is instant-preserving, i.e. UTC — which graft.Tables asserts
  * at normalization time, and which this rule re-checks via the cast's
  * resolved timezone.
  */
object EpochNsTranspose extends Rule[LogicalPlan] {

  /** Matches the Tables.t ns-normalization shape over a scan column:
    * `unix_micros(cast(a as timestamp)) * 1000L` (either operand order),
    * yielding the raw attribute whose µs ordering equals the ns ordering.
    */
  private object NsOfRaw {
    def unapply(e: Expression): Option[Attribute] = e match {
      case Multiply(UnixMicros(x), Literal(1000L, LongType), _) => raw(x)
      case Multiply(Literal(1000L, LongType), UnixMicros(x), _) => raw(x)
      case _ => None
    }
    private def raw(x: Expression): Option[Attribute] = x match {
      // NTZ column cast to session-zoned timestamp: instant-preserving
      // (hence order-preserving vs a shifted literal) only under UTC
      case Cast(a: Attribute, TimestampType, tz, _)
          if a.dataType == TimestampNTZType &&
            tz.forall(z => java.time.ZoneId.of(z).normalized ==
              java.time.ZoneOffset.UTC) => Some(a)
      case a: Attribute if a.dataType == TimestampType => Some(a)
      case _ => None
    }
  }

  // exact integer transposition of `u*1000 <op> C` to the µs domain
  // (private[graft] so the ScalaCheck law tests the rule's OWN arithmetic)
  private[graft] def floorUs(c: Long): Long = Math.floorDiv(c, 1000L)
  // overflow-free ceiling: the add-999 form wraps for constants within
  // 999 of Long.MaxValue (a natural "no upper bound" sentinel), silently
  // rewriting >=/< into the opposite extreme
  private[graft] def ceilUs(c: Long): Long =
    Math.floorDiv(c, 1000L) + (if (Math.floorMod(c, 1000L) == 0L) 0L else 1L)
  private def usLit(us: Long, dt: DataType): Literal = Literal(us, dt)

  private val transpose: PartialFunction[Expression, Expression] = {
    case GreaterThan(NsOfRaw(a), Literal(c: Long, LongType)) =>
      GreaterThan(a, usLit(floorUs(c), a.dataType))
    case GreaterThanOrEqual(NsOfRaw(a), Literal(c: Long, LongType)) =>
      GreaterThanOrEqual(a, usLit(ceilUs(c), a.dataType))
    case LessThan(NsOfRaw(a), Literal(c: Long, LongType)) =>
      LessThan(a, usLit(ceilUs(c), a.dataType))
    case LessThanOrEqual(NsOfRaw(a), Literal(c: Long, LongType)) =>
      LessThanOrEqual(a, usLit(floorUs(c), a.dataType))
    case eq @ EqualTo(NsOfRaw(a), Literal(c: Long, LongType)) =>
      // ns constants off the µs grid can never equal a µs-derived value —
      // but preserve NULL semantics (null ts must stay null, not false)
      if (c % 1000L == 0L) EqualTo(a, usLit(c / 1000L, a.dataType))
      else And(IsNull(a), Literal(null, eq.dataType))
    // literal-on-left mirrors (the DataFrame API can emit either order)
    case GreaterThan(l @ Literal(_: Long, LongType), r @ NsOfRaw(_)) =>
      transpose(LessThan(r, l))
    case GreaterThanOrEqual(l @ Literal(_: Long, LongType), r @ NsOfRaw(_)) =>
      transpose(LessThanOrEqual(r, l))
    case LessThan(l @ Literal(_: Long, LongType), r @ NsOfRaw(_)) =>
      transpose(GreaterThan(r, l))
    case LessThanOrEqual(l @ Literal(_: Long, LongType), r @ NsOfRaw(_)) =>
      transpose(GreaterThanOrEqual(r, l))
    case EqualTo(l @ Literal(_: Long, LongType), r @ NsOfRaw(_)) =>
      transpose(EqualTo(r, l))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // Filter conditions only: that is where pushdown pays, and it keeps
    // the rewrite away from projected output values by construction
    case f: Filter => f.transformExpressionsUp(transpose)
  }
}
