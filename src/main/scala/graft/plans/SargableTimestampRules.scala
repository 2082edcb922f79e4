package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Optimizer rule making derived-timestamp predicates sargable
  * (SURVEY §4 "optional date-predicate canonicalization", now load-bearing).
  *
  * The current tiers stamp the events table's `ts` as TIMESTAMP(MICROS)
  * (read as NTZ, layer 3 below); the nanos form is still read. Spark reads
  * TIMESTAMP(NANOS) as a raw int64 `ts_ns`, and the queryable `ts` is the
  * derived `timestamp_micros(ts_ns div 1000)` (Tables.events). A range
  * predicate on `ts` — e.g. the half-open day range Semantics.onDate emits for
  * `ts::date = d` (analytic.sql:4,8,31) — is an expression over `ts_ns`, so
  * the parquet scan gets NO pushed filter and, at 100 TB, no row-group
  * skipping or partition pruning.
  *
  * Both derivation steps are monotone over the data domain, so comparisons
  * can be inverted onto the raw column:
  *
  *  1. `timestamp_micros(e) ⋈ TIMESTAMP_LITERAL` ⟺ `e ⋈ literal_µs` — exact
  *     for every comparison (timestamp_micros is an order-isomorphism from
  *     µs counts to timestamps).
  *  2. `(e div k) >= m` ⟺ `e >= m·k` and `(e div k) < m` ⟺ `e < m·k`, valid
  *     for k > 0 and m >= 1 over ALL of e's range (for e < 0, truncating
  *     div gives e div k <= 0 < m, and e < k·m holds; m = 0 is excluded —
  *     the equivalence would fail on e ∈ (−k, 0)). Day-range literals for
  *     any date after 1970-01-01 give m ≥ 86 400 000 000 ⇒ the guard only
  *     skips pre-epoch corner cases.
  *
  * After the rewrite the Filter holds plain `ts_ns >= lo AND ts_ns < hi`,
  * which FileSourceStrategy pushes into the parquet scan (visible as
  * PushedFilters + row-group min/max skipping).
  *
  * Registered via `spark.experimental.extraOptimizations` (Tables.table) so
  * driver-owned sessions get it without construction-time hooks; the
  * `SparkSessionExtensions` path is [[GraftExtensions]].
  */
object SargableTimestampRules extends Rule[LogicalPlan] {

  private def rewriteOnce(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // Layer 1: strip timestamp_micros around any comparison with a literal.
    case GreaterThanOrEqual(MicrosToTimestamp(e), Literal(m: Long, TimestampType)) =>
      GreaterThanOrEqual(e, Literal(m, LongType))
    case GreaterThan(MicrosToTimestamp(e), Literal(m: Long, TimestampType)) =>
      GreaterThan(e, Literal(m, LongType))
    case LessThan(MicrosToTimestamp(e), Literal(m: Long, TimestampType)) =>
      LessThan(e, Literal(m, LongType))
    case LessThanOrEqual(MicrosToTimestamp(e), Literal(m: Long, TimestampType)) =>
      LessThanOrEqual(e, Literal(m, LongType))
    case EqualTo(MicrosToTimestamp(e), Literal(m: Long, TimestampType)) =>
      EqualTo(e, Literal(m, LongType))
    case GreaterThanOrEqual(Literal(m: Long, TimestampType), MicrosToTimestamp(e)) =>
      LessThanOrEqual(e, Literal(m, LongType))
    case LessThan(Literal(m: Long, TimestampType), MicrosToTimestamp(e)) =>
      GreaterThan(e, Literal(m, LongType))

    // Layer 2: invert truncating integer division by a positive constant.
    case GreaterThanOrEqual(IntegralDivide(e, Literal(k: Long, LongType), _), Literal(m: Long, LongType))
        if k > 0 && m >= 1 && m <= Long.MaxValue / k =>
      GreaterThanOrEqual(e, Literal(m * k, LongType))
    case LessThan(IntegralDivide(e, Literal(k: Long, LongType), _), Literal(m: Long, LongType))
        if k > 0 && m >= 1 && m <= Long.MaxValue / k =>
      LessThan(e, Literal(m * k, LongType))

    // Layer 3: strip the session-TZ cast off a native TIMESTAMP_NTZ column
    // (the MICROS-stamped events.parquet — Tables.events' second branch).
    // With the session TZ pinned to UTC the cast is a value-preserving
    // order-isomorphism (local micros = instant micros), so a comparison
    // against a TimestampType literal is equivalent to comparing the raw
    // NTZ column against the same micros as an NTZ literal — which
    // FileSourceStrategy then pushes into the parquet scan. Guarded on the
    // UTC conf: under any other zone the cast is only weakly monotone
    // across DST transitions, where equality inversion would be wrong.
    case cmp @ BinaryComparison(
        Cast(e, TimestampType, _, _), Literal(m: Long, TimestampType))
        if e.dataType == TimestampNTZType && conf.sessionLocalTimeZone == "UTC" =>
      cmp.withNewChildren(Seq(e, Literal(m, TimestampNTZType)))
    case cmp @ BinaryComparison(
        Literal(m: Long, TimestampType), Cast(e, TimestampType, _, _))
        if e.dataType == TimestampNTZType && conf.sessionLocalTimeZone == "UTC" =>
      cmp.withNewChildren(Seq(Literal(m, TimestampNTZType), e))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // transformDown doesn't re-match a node produced by its own rewrite, so
    // iterate the two layers to a (tiny, ≤3-step) local fixpoint.
    var prev = plan
    var cur = rewriteOnce(plan)
    while (cur ne prev) { prev = cur; cur = rewriteOnce(cur) }
    cur
  }
}
