package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Generate, Join, LogicalPlan, RebalancePartitions, RepartitionOperation}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

/** Small-input fast path: a file scan that Spark's own split packing
  * reads as exactly ONE partition is planned as what it is — a single
  * partition.
  *
  * A non-bucketed `FileSourceScanExec` reports an unknown partitioning,
  * so `EnsureRequirements` shuffles above it for every aggregate, window
  * and shuffled join, and a global sort adds a range-partition sampling
  * job. Over a one-task scan each of those stages (under AQE, each job)
  * costs more than the scan itself. Wrapped in `CoalesceExec(1, _)` —
  * a pass-through over a one-partition RDD — the scan reports
  * `SinglePartition`, which satisfies every clustered and ordered
  * distribution, so aggregates, windows and global sorts run in the
  * scan's own task with no exchange and no sampling job.
  *
  * The scan itself was already one task, but the work above it is not
  * free: what the exchange fanned out to up to `shuffle.partitions`
  * reducer tasks now runs in the scan's task too. That is the right
  * trade only while that work is about as small as the scan. So a scan
  * whose rows reach an operator that can multiply them — a generator,
  * a grouping-set `Expand`, a self-join, or a join Spark will shuffle
  * (neither side broadcast) — with no explicit repartition in between
  * keeps Spark's plan. The planner plans an operator before its
  * children, so the strategy tags the relations under such an operator
  * when it is asked about it, and reads the tag when it is asked about
  * the scan; tags live on the logical plan `QueryExecution` clones for
  * planning, never on a cached DataFrame's.
  *
  * Multi-split inputs — every table at scale — keep FileSourceStrategy's
  * plan unchanged, and streaming relations (one per micro-batch) are
  * never wrapped. Installed like [[AsofJoinStrategy]]: `GraftExtensions`
  * injects it cluster-wide, `Tables` appends it to the session's
  * `experimental.extraStrategies` as the per-session fallback.
  */
object OneSplitScanStrategy extends SparkStrategy with JoinSelectionHelper {
  private val feedsFanOut = TreeNodeTag[Unit]("graft.oneSplit.feedsFanOut")

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    if (fansOut(plan)) plan.children.foreach(tagFeeds)
    plan match {
      case PhysicalOperation(_, _, r @ LogicalRelation(_: HadoopFsRelation, _, _, false, _)) =>
        val scans = FileSourceStrategy(plan)
        if (r.getTagValue(feedsFanOut).isDefined) scans
        else scans.map(p => if (oneSplit(p)) CoalesceExec(1, p) else p)
      case _ => Nil
    }
  }

  /** Operators whose output can hold many more rows than their input.
    * A broadcast join of distinct tables (a star schema's key lookups)
    * is not one; a self-join (candidate pairs, band collisions) is.
    */
  private def fansOut(plan: LogicalPlan): Boolean = plan match {
    case _: Generate | _: Expand => true
    case j: Join =>
      getBroadcastBuildSide(j, hintOnly = false, SQLConf.get).isEmpty ||
        files(j.left).exists(files(j.right))
    case _ => false
  }

  /** Root paths of the file relations under `plan`. */
  private def files(plan: LogicalPlan): Set[Path] = plan.collectLeaves().flatMap {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.rootPaths
    case _ => Nil
  }.toSet

  /** Tags the file relations under `plan`, down to the nearest explicit
    * repartition (below it the rows are spread anyway).
    */
  private def tagFeeds(plan: LogicalPlan): Unit = plan match {
    case _: RepartitionOperation | _: RebalancePartitions => ()
    case r: LogicalRelation => r.setTagValue(feedsFanOut, ())
    case p => p.children.foreach(tagFeeds)
  }

  /** Whether the plan's non-bucketed file scan reads exactly one
    * `FilePartition`, by the rule `FileSourceScanExec` applies when it
    * builds its RDD, over the statically selected files (runtime
    * partition pruning can only drop files from them). An empty file
    * gives no split; a file longer than `maxSplitBytes` is cut into
    * splits unless its format cannot split it. `getFilePartitions` then
    * packs the splits, largest first, and closes a partition when the
    * next split would take its bytes, plus one open cost per split
    * already in it, past `maxSplitBytes`. So n >= 1 non-empty files make
    * one partition exactly when their bytes plus n - 1 open costs fit
    * one split (which keeps every file whole), or when the one file
    * cannot be split.
    */
  private[graft] def oneSplit(p: SparkPlan): Boolean =
    p.collectFirst { case s: FileSourceScanExec if !s.bucketedScan => s }.exists { scan =>
      val fs = scan.relation
      val spark = fs.sparkSession
      val listing = scan.selectedPartitions
      val files = listing.filePartitionIterator.flatMap(_.files).filter(_.getLen > 0).toSeq
      val maxSplit = FilePartition.maxSplitBytes(spark, listing)
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      files.nonEmpty &&
        (files.map(_.getLen).sum + (files.size - 1) * openCost <= maxSplit ||
          files.size == 1 &&
            !fs.fileFormat.isSplitable(spark, fs.options, files.head.getPath))
    }
}
