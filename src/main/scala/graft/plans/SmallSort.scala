package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Offset, Project, Repartition, Sort, Tail}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime optimizer rule: sort a small, already-computed result in
  * ONE task instead of range-partitioning it.
  *
  * A global `ORDER BY` plans as a range exchange: a sampling job that
  * recomputes the child to pick range bounds, then one more shuffle
  * stage. Once every input of the sort's child is a materialized query
  * stage and the child's runtime size is at most what AQE's own
  * `CoalesceShufflePartitions` would read back as ONE partition, that
  * range shuffle could only ever end up as a single partition — so this
  * rule plans the sort over `Repartition(1, shuffle = false)` instead.
  * That repartition plans as `CoalesceExec(1)`, whose `SinglePartition`
  * output already satisfies the sort's ordered distribution: no range
  * exchange, no sampling job. Same rows in the same order, and an
  * `orderBy(...).write` still writes one file.
  *
  * Left alone: a sort under a LIMIT/OFFSET/TAIL (planned as a single-pass
  * top-k, no range exchange to save), local sorts, and any sort whose
  * child still reads a source or an unfinished stage. Injected by
  * [[graft.functions.GraftExtensions]]; Spark's
  * `spark.sql.adaptive.optimizer.excludedRules=graft.plans.SmallSort`
  * switches it off. */
object SmallSort extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan, underLimit = false)

  private def rewrite(p: LogicalPlan, underLimit: Boolean): LogicalPlan = p match {
    case s: Sort if s.global && !underLimit && !singlePartition(s.child) &&
        fitsOnePartition(s.child) =>
      s.copy(child = Repartition(1, shuffle = false, s.child))
    case _: GlobalLimit | _: LocalLimit | _: Offset | _: Tail =>
      p.mapChildren(rewrite(_, underLimit = true))
    case _: Project => p.mapChildren(rewrite(_, underLimit))
    case _ => p.mapChildren(rewrite(_, underLimit = false))
  }

  // already rewritten (AQE re-optimizes the same logical plan after
  // every stage)
  private def singlePartition(child: LogicalPlan): Boolean = child match {
    case Repartition(1, _, _) => true
    case _ => false
  }

  private def fitsOnePartition(child: LogicalPlan): Boolean =
    conf.coalesceShufflePartitionsEnabled &&
      child.collectLeaves().forall {
        case q: LogicalQueryStage =>
          q.physicalPlan.collect { case s: QueryStageExec => s }.forall(_.isMaterialized)
        case _ => false
      } &&
      child.stats.sizeInBytes <= onePartitionBytes

  /** The shuffle size below which `CoalesceShufflePartitions` reads every
    * partition back as one: under `parallelismFirst` (the default) its
    * target size never drops below `minPartitionSize`, otherwise it is
    * the advisory size. */
  private def onePartitionBytes: Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}
