package graft.core

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DateType, TimestampType}

/** Time-partition pruning for [[graft.catalog.TableStore]] tables: a
  * filter on `timestamp` also selects `date=` partitions.
  *
  * The store partitions by `date`, but queries filter on `timestamp`,
  * and Catalyst prunes partitions only on predicates over the partition
  * column itself — so every time window scanned every day. The
  * reference prunes objects by time range before it builds a view
  * (`PruneFilesByTimePartition`, `file_pruning.go:352-605`). This rule
  * derives the date bound from the timestamp bound: over a `Filter`
  * directly on a store relation, it takes the tightest inclusive lower
  * bound `lo` and upper bound `hi` from the `>=`, `>`, `<`, `<=`, `=`
  * conjuncts between `timestamp` and a timestamp literal (a strict bound
  * moves one microsecond inward: `t < U` is `t <= U - 1µs`), and ANDs
  * `date >= day(lo) - 1 AND date <= day(hi) + 1` onto the condition,
  * which it keeps whole. It runs once, before the scan is planned
  * (pre-CBO), so file listing prunes on the derived bound.
  *
  * Soundness (`day` = UTC epoch day of an instant): the derived bound
  * only has to keep every partition that can hold a matching row.
  *  - `date` is `to_date(timestamp)` in the WRITER's session zone
  *    (`TableStore.flush`, `conformDynamicBatch`, streaming ingest), so a
  *    row's `date` is its instant's local day in that zone. Zone offsets
  *    are within ±18 h, so that local day is `day(t) - 1`, `day(t)` or
  *    `day(t) + 1`.
  *  - `t >= lo` gives `date >= day(t) - 1 >= day(lo) - 1`, and
  *    `t <= hi` gives `date <= day(t) + 1 <= day(hi) + 1`.
  *  - Literals are instants, so the READER's zone does not enter the
  *    argument.
  *  - A null timestamp lands in `__HIVE_DEFAULT_PARTITION__` (null
  *    `date`), which the derived bound drops — but such a row fails the
  *    timestamp conjunct anyway.
  * Only relations tagged with [[RelationTag]] (set by
  * `TableStore.storageDf`) whose partition schema is exactly
  * `date: date` and which carry `timestamp: timestamp` are touched; any
  * other relation is left as it is. Re-applying the rule adds nothing,
  * so it is idempotent.
  */
object TimePartitionPrune extends Rule[LogicalPlan] with PredicateHelper {

  /** Read option that marks a relation as TableStore storage. */
  val RelationTag = "graft.tablestore"

  private val MicrosPerDay = 86400L * 1000000L

  private def day(micros: Long): Int = Math.floorDiv(micros, MicrosPerDay).toInt

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(_, rel: LogicalRelation) => rel.relation match {
      case fs: HadoopFsRelation if fs.options.contains(RelationTag) &&
          fs.partitionSchema.fields.map(p => (p.name, p.dataType)).toSeq ==
            Seq(("date", DateType)) =>
        val date = rel.output.find(_.name == "date")
        val ts = rel.output.find(a => a.name == "timestamp" && a.dataType == TimestampType)
        (date, ts) match {
          case (Some(d), Some(t)) => prune(f, d, t)
          case _ => f
        }
      case _ => f
    }
  }

  private def prune(f: Filter, date: Attribute, ts: Attribute): LogicalPlan = {
    object Ts {
      def unapply(e: Expression): Boolean = e.semanticEquals(ts)
    }
    object Lit {
      def unapply(e: Expression): Option[Long] = e match {
        case Literal(v: Long, TimestampType) => Some(v)
        case _ => None
      }
    }
    val conjuncts = splitConjunctivePredicates(f.condition)
    // (lower, upper) bound each conjunct puts on timestamp; `v ± 1` wraps
    // only at Long's extremes, into the loosest possible bound
    val bounds: Seq[(Option[Long], Option[Long])] = conjuncts.collect {
      case GreaterThanOrEqual(Ts(), Lit(v)) => (Some(v), None)
      case GreaterThan(Ts(), Lit(v)) => (Some(v + 1), None)
      case LessThanOrEqual(Ts(), Lit(v)) => (None, Some(v))
      case LessThan(Ts(), Lit(v)) => (None, Some(v - 1))
      case EqualTo(Ts(), Lit(v)) => (Some(v), Some(v))
      case LessThanOrEqual(Lit(v), Ts()) => (Some(v), None)
      case LessThan(Lit(v), Ts()) => (Some(v + 1), None)
      case GreaterThanOrEqual(Lit(v), Ts()) => (None, Some(v))
      case GreaterThan(Lit(v), Ts()) => (None, Some(v - 1))
      case EqualTo(Lit(v), Ts()) => (Some(v), Some(v))
    }
    val lo = bounds.flatMap(_._1).maxOption
    val hi = bounds.flatMap(_._2).minOption
    val derived =
      lo.map(l => GreaterThanOrEqual(date, Literal(day(l) - 1, DateType))).toSeq ++
        hi.map(h => LessThanOrEqual(date, Literal(day(h) + 1, DateType)))
    val added = derived.filterNot(d => conjuncts.exists(_.semanticEquals(d)))
    if (added.isEmpty) f
    else f.copy(condition = (f.condition +: added).reduce(And))
  }
}
