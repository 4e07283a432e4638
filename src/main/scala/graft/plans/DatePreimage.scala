package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Date-function preimage rewrite (reference:
  * src/Analyzer/Passes/OptimizeDateOrDateTimeConverterWithPreimagePass —
  * QueryTreePassManager.cpp:303): `year(ts) <op> <literal>` becomes a
  * range predicate on `ts` itself.
  *
  * Why it matters at scale: `year(ts) = 2024` is opaque to data sources —
  * no parquet row-group min/max pruning, no partition pruning, no
  * pushdown. The preimage range `ts >= '2024-01-01' AND ts < '2025-01-01'`
  * pushes all the way into the scan. Catalyst does not do this rewrite
  * (as of Spark 4); this is the custom `Rule[LogicalPlan]` slot the
  * survey called out as worth building.
  *
  * Handled: Year(ts) {=, <, <=, >, >=} IntegerLiteral for DateType,
  * TimestampType, TimestampNTZType columns (UTC session semantics — the
  * engine pins spark.sql.session.timeZone=UTC).
  */
object DatePreimageRule extends Rule[LogicalPlan] {

  private def boundary(year: Int, dt: DataType): Option[Literal] = dt match {
    case DateType =>
      Some(Literal(java.time.LocalDate.of(year, 1, 1).toEpochDay.toInt, DateType))
    // TimestampType year() follows the SESSION time zone; the UTC-instant
    // boundary below is only its preimage when that zone is UTC. DateType /
    // TimestampNTZ are zone-independent, so they rewrite unconditionally.
    case TimestampType if conf.sessionLocalTimeZone == "UTC" =>
      val micros = java.time.LocalDate.of(year, 1, 1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
      Some(Literal(micros, TimestampType))
    case TimestampNTZType =>
      val micros = java.time.LocalDate.of(year, 1, 1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L
      Some(Literal(micros, TimestampNTZType))
    case _ => None
  }

  private object YearOf {
    def unapply(e: Expression): Option[Expression] = e match {
      case Year(child) => Some(child)
      case _ => None
    }
  }

  private def rewrite(ts: Expression, op: (Expression, Int) => Option[Expression],
                      y: Int): Option[Expression] = op(ts, y)

  override def apply(plan: LogicalPlan): LogicalPlan = plan transformAllExpressions {
    case eq @ EqualTo(YearOf(ts), Literal(y: Int, IntegerType)) =>
      (boundary(y, ts.dataType), boundary(y + 1, ts.dataType)) match {
        case (Some(lo), Some(hi)) =>
          And(GreaterThanOrEqual(ts, lo), LessThan(ts, hi))
        case _ => eq
      }
    case eq @ EqualTo(Literal(y: Int, IntegerType), YearOf(ts)) =>
      (boundary(y, ts.dataType), boundary(y + 1, ts.dataType)) match {
        case (Some(lo), Some(hi)) =>
          And(GreaterThanOrEqual(ts, lo), LessThan(ts, hi))
        case _ => eq
      }
    case lt @ LessThan(YearOf(ts), Literal(y: Int, IntegerType)) =>
      boundary(y, ts.dataType).map(LessThan(ts, _)).getOrElse(lt)
    case le @ LessThanOrEqual(YearOf(ts), Literal(y: Int, IntegerType)) =>
      boundary(y + 1, ts.dataType).map(LessThan(ts, _)).getOrElse(le)
    case gt @ GreaterThan(YearOf(ts), Literal(y: Int, IntegerType)) =>
      boundary(y + 1, ts.dataType).map(GreaterThanOrEqual(ts, _)).getOrElse(gt)
    case ge @ GreaterThanOrEqual(YearOf(ts), Literal(y: Int, IntegerType)) =>
      boundary(y, ts.dataType).map(GreaterThanOrEqual(ts, _)).getOrElse(ge)
  }
}

/** Session extension registering the engine's custom optimizer rules:
  * `SparkSession.builder().withExtensions(new GraftExtensions)`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DatePreimageRule)
    ext.injectOptimizerRule(ProjectionRouting.Route(_))
    ext.injectResolutionRule(_ => ChTimestampArith)
    ext.injectResolutionRule(_ => ChBooleanCoercion)
    ext.injectResolutionRule(_ => ChBoolAsNumeric)
    ext.injectResolutionRule(_ => ChFloat32Compare)
    ext.injectResolutionRule(_ => ChJoinDefaults)
    ext.injectResolutionRule(_ => ChNullsOrdering)
    ext.injectResolutionRule(_ => ChDateIntCast)
    ext.injectResolutionRule(_ => ChFloatDivision)
    ext.injectResolutionRule(_ => ChEmptySetAggDefaults)
    GraftFunctions.all.foreach(ext.injectFunction)
  }
}
