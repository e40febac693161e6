package graft.plans

import java.time.{LocalDate, LocalDateTime, ZoneId}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite `year(x) = N` (and `year(cast(ts AS
  * date)) = N`, the reference's predicate shape —
  * /root/reference/athena_queries/total_cost_per_customer.sql:7) into
  * a half-open range on the underlying column:
  *
  *   x >= 'N-01-01' AND x < '(N+1)-01-01'
  *
  * Why: `year(...)` is opaque to the parquet reader — the scan gets
  * only IsNotNull and reads every row group. The range form pushes
  * down (row-group min/max skipping) and prunes date partitions. At
  * 100 TB on a date-partitioned fact this is the difference between
  * scanning one year and scanning everything. Measured on q03's shape:
  * PushedFilters goes from [IsNotNull] to
  * [IsNotNull, GreaterThanOrEqual, LessThan].
  *
  * Semantics preserved: for non-null inputs both forms test calendar
  * membership of the year in the session time zone; for null inputs
  * both evaluate to null. Non-deterministic children are skipped.
  */
object YearRangeRewrite extends Rule[LogicalPlan] {

  private def boundary(year: Int, dt: DataType, zone: ZoneId): Option[Any] =
    dt match {
      case DateType =>
        Some(LocalDate.of(year, 1, 1).toEpochDay.toInt)
      case TimestampNTZType =>
        Some(LocalDateTime.of(year, 1, 1, 0, 0).toEpochSecond(
          java.time.ZoneOffset.UTC) * 1000000L)
      case TimestampType =>
        Some(LocalDate.of(year, 1, 1).atStartOfDay(zone)
          .toEpochSecond * 1000000L)
      case _ => None
    }

  private def rangeFor(target: Expression, year: Int): Option[Expression] = {
    val zone = ZoneId.of(SQLConf.get.sessionLocalTimeZone)
    for {
      lo <- boundary(year, target.dataType, zone)
      hi <- boundary(year + 1, target.dataType, zone)
    } yield And(
      GreaterThanOrEqual(target, Literal(lo, target.dataType)),
      LessThan(target, Literal(hi, target.dataType)))
  }

  /** The column a year() call ultimately inspects: unwrap a date cast
    * of a timestamp (the cast is monotone, so the range transfers). */
  private def unwrap(e: Expression): Expression = e match {
    case Cast(inner, DateType, _, _)
        if inner.dataType == TimestampType ||
          inner.dataType == TimestampNTZType => inner
    case other => other
  }

  private object YearEquals {
    def unapply(e: Expression): Option[(Expression, Int)] = e match {
      case EqualTo(Year(child), Literal(y: Int, IntegerType)) =>
        Some((unwrap(child), y))
      case EqualTo(Literal(y: Int, IntegerType), Year(child)) =>
        Some((unwrap(child), y))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case e @ YearEquals(target, y) if target.deterministic =>
        rangeFor(target, y).getOrElse(e)
    }
}

/** `--conf spark.sql.extensions=graft.plans.GraftExtensions`, or
  * `withExtensions(new GraftExtensions)` on a session builder. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => YearRangeRewrite)
    e.injectPlannerStrategy(_ => AsOfJoinPhysical.AsOfStrategy)
  }
}

object GraftExtensions {
  /** Post-hoc installation on an existing session (the driver builds
    * plain sessions): `experimental.extraOptimizations` /
    * `extraStrategies` are the public hooks for appended optimizer
    * rules and planner strategies. Idempotent. */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(YearRangeRewrite))
      spark.experimental.extraOptimizations = cur :+ YearRangeRewrite
    val strats = spark.experimental.extraStrategies
    if (!strats.contains(AsOfJoinPhysical.AsOfStrategy))
      spark.experimental.extraStrategies =
        strats :+ AsOfJoinPhysical.AsOfStrategy
    // Engine-standard planner settings for the bucketed graftlog
    // layout (sources.GraftLogSource): honor a V2 scan's reported
    // KeyGroupedPartitioning (storage-partitioned joins), and accept
    // co-partitioned children when the join keys are a SUPERSET of
    // the partition keys — a bucketed join's keys are (ub, user_id)
    // while the layout partitions on ub alone. Both are pure planner
    // relaxations (never semantics); set once here so plan shapes do
    // not depend on which query ran first in a shared session.
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
  }
}
