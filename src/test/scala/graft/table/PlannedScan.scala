package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** What a DataFrame's planned scans read, after every plan-time prune
  * (partition filters, manifest stats, the partition bloom index) —
  * unlike `Dataset.inputFiles`, which lists the whole relation. Pins
  * pruning on store reads and catalog queries alike. */
object PlannedScan {

  /** The planned v2 file scans (pre-execution physical plan). */
  def scans(df: DataFrame): Seq[BatchScanExec] =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }

  /** Distinct files the planned scans read, as `inputFiles`-style URIs
    * (split files count once), sorted. */
  def files(df: DataFrame): Seq[String] =
    scans(df).flatMap(_.inputPartitions.flatMap {
      case fp: FilePartition => fp.files.map(_.toPath.toUri.toString).toSeq
      case _ => Nil
    }).distinct.sorted
}
