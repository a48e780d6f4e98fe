package graft.table.catalog

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.TableCapability
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
import org.apache.spark.sql.graft.{DatasetBridge, GraftFileIndex, GraftScan, GraftScanPlanning, GraftStreamSpec, MorKeys, SchemaBridge}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.{ColumnDefaults, FieldIds, PartitionTransforms, VersionedTableStore}

/** The read side of one store snapshot, computed once and shared by
  * every reader: SQL scans ([[GraftTable]]), row-level operations
  * ([[GraftRowLevelOp]]) and the store's library reads
  * (`VersionedTableStore.read` and every other manifest load, through
  * [[dataFrame]]).
  *
  *  - '''Layout schemas''': the directory schema the file index
  *    parses rels with (identity fields plus hidden DERIVED fields)
  *    and the table-visible schema (data columns, then identity
  *    partition columns; hidden columns never surface).
  *  - '''File schema''': the data columns stamped with the manifest's
  *    field IDs ([[graft.table.FieldIds]]) and column defaults
  *    ([[graft.table.ColumnDefaults]]). The stamp MUST ride the
  *    reported schema: Spark's parquet scan derives its file-read
  *    schema from the plan's pushed required schema (relation output),
  *    not from the builder's data schema. Scan outputs are cleaned at
  *    the boundary (`GraftScan.readSchema`, [[dataFrame]]).
  *  - '''One file index''' ([[GraftFileIndex]]): partition pruning,
  *    manifest-stats skipping and the partition bloom index, pinned to
  *    this snapshot's entries.
  *  - '''Pending merge-on-read deletes''' ([[MorKeys]]): loaded to the
  *    driver once, filtered out row by row by every scan. */
private[graft] class SnapshotRead(st: VersionedTableStore, val table: String,
    val snapshot: GraftSnapshot) {

  private val idSources: Seq[String] =
    PartitionTransforms.identitySources(snapshot.partitionBy)

  /** The manifest's table schema (data and partition columns). */
  val storedSchema: StructType =
    if (snapshot.schemaDDL.nonEmpty) StructType.fromDDL(snapshot.schemaDDL)
    else footerSchema

  /** Schema of a manifest that records none: data columns from the
    * files' footers (what a schema-less parquet read infers), identity
    * partition columns as strings. */
  private def footerSchema: StructType = {
    val conf = st.spark.sparkContext.hadoopConfiguration
    val files = snapshot.entries.flatMap { case (rel, dir) =>
      val p = if (rel == ".") new Path(dir) else new Path(s"$dir/$rel")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }
    val data = new ParquetFileFormat().inferSchema(st.spark, Map.empty, files)
      .getOrElse(StructType(Nil))
    StructType(data ++ idSources.filterNot(data.fieldNames.contains)
      .map(StructField(_, StringType)))
  }

  /** Directory-layout schema: identity columns keep their declared
    * field, transforms contribute their DERIVED (hidden) column. */
  val partitionSchema: StructType =
    PartitionTransforms.derivedSchema(snapshot.partitionBy, storedSchema)

  /** Identity partition fields only (in layout order) — what the
    * table-visible row appends after the data columns. */
  val identityPartitionSchema: StructType =
    StructType(idSources.map(storedSchema.apply))

  /** The columns inside the files, ID- and default-stamped: identity
    * partition columns live in paths, a transform's SOURCE column is
    * an ordinary data column. */
  val dataSchema: StructType = ColumnDefaults.stamp(
    FieldIds.stamp(
      StructType(storedSchema.filterNot(f => idSources.contains(f.name))),
      snapshot.fieldIds),
    snapshot.columnDefaults)

  /** The table-visible schema: data columns, then identity partition
    * columns. */
  val schema: StructType = StructType(dataSchema ++ identityPartitionSchema)

  lazy val fileIndex: GraftFileIndex = GraftScanPlanning.fileIndex(st.spark,
    partitionSchema, snapshot.entries, snapshot.stats,
    // lazy hook: a pushed equality on an indexed column prunes
    // partitions via the version-pinned bloom sidecars
    bloomFor = c => st.bloomIndexFor(table, c, snapshot.version))

  lazy val mor: Seq[MorKeys] =
    if (snapshot.deletes.isEmpty) Nil
    else MorKeys.build(st.spark, snapshot.deletes)

  def scanBuilder(options: CaseInsensitiveStringMap,
      stream: Option[GraftStreamSpec] = None): ScanBuilder =
    GraftScanPlanning.scanBuilder(st.spark, fileIndex, schema, dataSchema,
      options, partitionSchema, stream, mor, snapshot.partitionBy)

  def rowOpScanBuilder(options: CaseInsensitiveStringMap,
      attach: GraftScan => Unit): ScanBuilder =
    GraftScanPlanning.rowOpScanBuilder(st.spark, fileIndex, schema, dataSchema,
      options, partitionSchema, attach, mor, snapshot.partitionBy)

  /** The snapshot as a DataFrame: one v2 scan relation over a
    * [[GraftFileTable]], planned exactly like a catalog read (pushed
    * filters skip partitions by manifest stats and blooms, pending
    * deletes filter row by row), however many delta commits the
    * snapshot spans. The output is stripped of the stamped metadata
    * so downstream writes never inherit this table's identities or
    * defaults. */
  def dataFrame: DataFrame = FieldIds.stripDf(DatasetBridge.ofRows(st.spark,
    DataSourceV2Relation.create(new GraftFileTable(this, st), None, None)))
}

/** A snapshot as Spark's own v2 [[FileTable]], read-only: the relation
  * every library read plans over. Being a `FileTable` is what keeps
  * `Dataset.inputFiles` answering for store reads — Spark resolves it
  * from `fileIndex` for file tables and v1 file relations only — so
  * it lists every file of the snapshot (before any filter's pruning;
  * the planned scan's own file list is what pruning narrows).
  *
  * Columns are presented nullable, as Spark's file sources present
  * them: a manifest schema records the nullability of the LAST
  * commit's batch, while older dirs may hold nulls. (It is never an
  * INSERT target, so Spark's file-table write fallback never
  * applies.) */
private[graft] class GraftFileTable(read: SnapshotRead, st: VersionedTableStore)
    extends FileTable(st.spark, CaseInsensitiveStringMap.empty(), Nil,
      Some(SchemaBridge.asNullable(read.schema))) {

  override lazy val fileIndex: PartitioningAwareFileIndex = read.fileIndex
  override lazy val dataSchema: StructType =
    SchemaBridge.asNullable(read.dataSchema)
  override lazy val schema: StructType = SchemaBridge.asNullable(read.schema)

  override def name(): String = s"graft.${read.table}@v${read.snapshot.version}"
  override def partitioning(): Array[Transform] =
    read.identityPartitionSchema.fieldNames
      .map(n => Expressions.identity(n): Transform)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    read.scanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    throw new UnsupportedOperationException(
      s"${name()} is a read-only snapshot; write through the store")
  override def inferSchema(files: Seq[FileStatus]): Option[StructType] =
    Some(dataSchema)
  override def formatName: String = "graft"
  override def fallbackFileFormat: Class[_ <: FileFormat] =
    classOf[ParquetFileFormat]
}
