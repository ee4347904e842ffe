package graft.plans

import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, PartitionedFileUtil, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileSourceStrategy, HadoopFsRelation, LogicalRelation}

/** Plans a batch file scan that Spark reads as exactly one split under
  * `CoalesceExec(1)`, so the scan reports `SinglePartition` and
  * `EnsureRequirements` adds no exchange above it.
  *
  * A non-bucketed `FileSourceScanExec` reports `UnknownPartitioning(0)`
  * whatever it reads, so every aggregate, window, join or sort above a
  * scan of one small file shuffles rows that already sit in one task;
  * under AQE each such exchange is a stage and a job of its own.
  *
  * The plan is `FileSourceStrategy`'s own; only the partition count is
  * decided here, exactly as the scan will decide it: the scan's file
  * listing (`selectedPartitions`, the relation's cached listing with
  * the partition filters applied, kept by the scan for its execution)
  * split and packed by Spark's rule, `FilePartition.maxSplitBytes` and
  * `getFilePartitions`. Nothing is read and no read RDD is built while
  * planning. A scan of several splits plans as before, and
  * `CoalesceExec(1)` is correct whatever its child reads, so the rule
  * needs no threshold.
  *
  * Left to Spark: streaming relations, bucketed relations (their
  * partitioning is the buckets) and scans with a partition filter that
  * is only known at run time (dynamic partition pruning, a scalar
  * subquery), whose file set the static listing does not fix. */
object OneSplitScanStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, _, LogicalRelation(fs: HadoopFsRelation, _, _, false, _))
        if fs.bucketSpec.isEmpty =>
      FileSourceStrategy(plan).map { p =>
        if (p.collectFirst { case s: FileSourceScanExec => s }.exists(oneSplit))
          CoalesceExec(1, p)
        else p
      }
    case _ => Nil
  }

  /** Whether `scan` reads its files as exactly one `FilePartition`. */
  private def oneSplit(scan: FileSourceScanExec): Boolean =
    !scan.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) && {
      val relation = scan.relation
      val session = relation.sparkSession
      val listing = scan.selectedPartitions
      val maxSplitBytes = FilePartition.maxSplitBytes(session, listing)
      val splits = listing.filePartitionIterator.flatMap { partition =>
        partition.files.flatMap { file =>
          val path = file.getPath
          PartitionedFileUtil.splitFiles(file, path,
            relation.fileFormat.isSplitable(session, relation.options, path),
            maxSplitBytes, partition.values)
        }
      }.toArray.sortBy(-_.length)
      splits.nonEmpty &&
        FilePartition.getFilePartitions(session, splits.toSeq, maxSplitBytes).size == 1
    }
}
