package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}

/** Optimizer rule: an aggregate over a SMALL file scan runs as one
  * stage on one coalesced partition.
  *
  * A short read — a count, a sum or a percentile over a store of a few
  * thousand rows — is bound by fixed cost, not by scan throughput.
  * Planned as usual it is two jobs: a map stage of a few scan tasks
  * feeding the partial aggregate, the shuffle, an adaptive re-plan and
  * a result stage. With the aggregate's input coalesced to ONE
  * partition (`Repartition(1, shuffle = false)`, a `CoalesceExec`
  * reporting `SinglePartition`), every distribution the aggregate
  * requires is already satisfied, `EnsureRequirements` inserts no
  * exchange, and the read is one job of one task that opens the
  * scan's files in turn.
  *
  * Scope, narrow by design:
  *  - the input must reach the scan through `Project`/`Filter` nodes
  *    only — a join, `Generate`, union or nested aggregate declines;
  *  - the scan must be a file source: a `HadoopFsRelation`, a DSv2
  *    `FileTable`, or a plain graft head (its parquet delegate's
  *    files). Chain heads reach here inlined as joins/unions and
  *    decline;
  *  - streaming plans pass through untouched;
  *  - the files the scan opens — after the chain's partition filters
  *    on a `HadoopFsRelation`, all of them otherwise — number at most
  *    [[MaxScanFiles]] and hold at most [[MaxScanBytes]].
  *
  * The bounds trade one client's latency for throughput under load.
  * With nothing else running, the shuffled plan reads files on every
  * core; the one task opens them in turn, ~1.8 ms a file on 4 cores:
  * it ties at 6 files and loses at 24. With `nproc` clients every
  * core is busy, and the fixed cost of a second stage, job and
  * re-plan dominates.
  *
  * Registered as a pre-CBO rule ([[graft.GraftExtensions]]): it runs
  * once, after the operator-optimization batch where graft's own
  * rewrites live, so [[MatViewRewrite]], [[MetaAggregate]] and
  * [[GraftScanInline]] have already matched their shapes — a view-
  * served aggregate coalesces its view scan, a manifest-served one is
  * a `LocalRelation` and declines. The scan pushdown batch follows,
  * and its rules match the `Project`/`Filter` chain directly above the
  * relation, below the inserted node, so column pruning and partition
  * filters reach the scan as before. */
object SingleStageAggregate extends Rule[LogicalPlan] with PredicateHelper {

  /** From plans/r24/sweep.md (4 cores): up to 48 files and 0.94 MB the
    * coalesced read's one-client loss (+4 to +32 ms) stayed at or under
    * its gain with `nproc` clients (−27 to −67 ms). At 96 files one
    * client lost +59 ms (+47 %); at 6.9 MB it lost +131 ms against a
    * −21 ms gain under load, and at 2 MB in 383 files, +382 ms. */
  private val MaxScanFiles: Int = 48
  private val MaxScanBytes: Long = 1L << 20

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming) plan
    else plan.transformUp {
      case a: Aggregate if scanFits(a.child, Nil) =>
        a.withNewChildren(Seq(Repartition(1, shuffle = false, a.child)))
    }

  /** Whether the Project/Filter chain `p` ends in a file scan whose
    * files, after the chain's partition filters, fit both bounds. */
  private def scanFits(p: LogicalPlan, filters: Seq[Expression]): Boolean = p match {
    case Project(_, c)   => scanFits(c, filters)
    case Filter(cond, c) => scanFits(c, filters ++ splitConjunctivePredicates(cond))
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation =>
        // the files partition pruning will leave (PruneFileSourcePartitions'
        // own split of the filters, over the index's cached listing)
        val usable = filters.filter(f => f.deterministic &&
          !SubqueryExpression.hasSubquery(f) && f.references.subsetOf(l.outputSet))
        val (partitionFilters, _) = DataSourceUtils.getPartitionFiltersAndDataFilters(
          fs.partitionSchema, usable)
        fits(fs.location.listFiles(partitionFilters, Nil))
      case _ => false
    }
    case r: DataSourceV2Relation => r.table match {
      case t: FileTable                => fits(t.fileIndex.listFiles(Nil, Nil))
      case t: graft.sources.GraftTable => t.fileIndex.exists(i => fits(i.listFiles(Nil, Nil)))
      case _                           => false
    }
    case _ => false
  }

  private def fits(dirs: Seq[PartitionDirectory]): Boolean = {
    val files = dirs.flatMap(_.files)
    files.size <= MaxScanFiles && files.map(_.getLen).sum <= MaxScanBytes
  }
}
