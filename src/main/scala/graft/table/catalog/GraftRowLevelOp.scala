package graft.table.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.graft.{GraftBatchWrite, GraftScan}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.VersionedTableStore

/** One SQL row-level statement (UPDATE / MERGE INTO / rewrite-path
  * DELETE) against a graft table, as Spark's GROUP-BASED copy-on-write:
  * groups ARE the store's partitions.
  *
  *  - '''Scan''': a group-atomic read of the head snapshot
  *    ([[org.apache.spark.sql.graft.GraftRowOpScanBuilder]] — filters
  *    prune whole partitions, never rows). Spark's runtime group
  *    filtering additionally narrows it to partitions that actually
  *    hold matched rows (the scan is
  *    `SupportsRuntimeV2Filtering`-capable), so an UPDATE touching 3
  *    of 3,000 date partitions reads — and rewrites — exactly 3.
  *  - '''Write''': executor-parallel staged parquet
  *    ([[GraftBatchWrite]]) promoted by ONE manifest CAS
  *    ([[VersionedTableStore.commitStagedReplacing]]): replaced
  *    groups = precisely the partitions the scan's final plan read
  *    ([[GraftScan.plannedRels]]); rows that MOVED partition (an
  *    UPDATE assigning a partition column, MERGE inserts) land as
  *    appends beside untouched partitions' existing dirs.
  *  - '''Isolation''': serializable — the commit rejects if the head
  *    moved past the scanned snapshot, and a no-match statement
  *    (nothing read, nothing written) burns no snapshot at all.
  */
class GraftRowLevelOp(st: VersionedTableStore, tableName: String,
    snapshot: GraftSnapshot, cmd: Command,
    branch: String = "", wap: String = "") extends RowLevelOperation {

  @volatile private var scanRef: GraftScan = _

  // the group scan reads through the same schemas, file index and
  // pending deletes as every other read of this snapshot; the staged
  // replacement files are re-stamped with its field IDs by
  // GraftBatchWrite
  private val read = new SnapshotRead(st, tableName, snapshot)

  override def command(): Command = cmd

  override def description(): String =
    s"graft $cmd on $tableName @ v${snapshot.version}"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    read.rowOpScanBuilder(options, s => scanRef = s)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = {
        val (dirId, stagingPath) = st.newStagingDir(tableName)
        def dropStaging(): Unit = {
          val p = new Path(stagingPath)
          val fs = p.getFileSystem(st.spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
          ()
        }
        new GraftBatchWrite(st.spark, info, snapshot.partitionBy, stagingPath,
          fieldIds = snapshot.fieldIds,
          onCommit = written => {
            val replaced = Option(scanRef).map(_.plannedRels).getOrElse(
              throw new IllegalStateException(
                s"row-level $cmd on $tableName committed before its scan " +
                  "was planned"))
            if (written.isEmpty && replaced.isEmpty) dropStaging() // no-match
            else st.commitStagedReplacing(tableName, dirId, written, replaced,
              expectedParent = snapshot.version, branch = branch, wap = wap)
          },
          onAbort = () => dropStaging())
      }
    }
}
