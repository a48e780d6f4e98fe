package graft.table.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDeleteV2, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.VersionedTableStore

/** One read-side snapshot of a store table, resolved once at
  * `loadTable` time so every scan a query plans sees the SAME
  * version — the consistent-read contract v2 catalogs are expected
  * to give. Entries carry absolute data dirs; stats are the
  * manifest's (rel, column, min, max) rows. */
case class GraftSnapshot(version: Long, partitionBy: Seq[String],
    schemaDDL: String, entries: Seq[(String, String)],
    stats: Seq[(String, String, String, String)], committedAtMs: Long,
    parent: Long = -1L,
    deletes: Seq[(String, String)] = Nil,
    fieldIds: Seq[(String, Int)] = Nil,
    columnDefaults: Seq[(String, String, String)] = Nil,
    checks: Seq[(String, String)] = Nil)

/** A Spark `TableCatalog` over [[graft.table.VersionedTableStore]]:
  * registers with
  *
  * {{{
  * spark.sql.catalog.graft      = graft.table.catalog.GraftCatalog
  * spark.sql.catalog.graft.root = /warehouse/graft
  * }}}
  *
  * and store tables become first-class SQL citizens:
  *
  * {{{
  * SELECT * FROM graft.default.orders WHERE order_yr = 1996
  * SELECT * FROM graft.default.orders VERSION AS OF 3
  * SELECT * FROM graft.default.orders TIMESTAMP AS OF '2026-08-15 00:00:00'
  * INSERT INTO graft.default.orders SELECT ...
  * INSERT OVERWRITE graft.default.orders SELECT ...
  * CREATE TABLE graft.default.t (k INT, v STRING) PARTITIONED BY (k)
  * }}}
  *
  * Reads are Spark's own v2 parquet scans over a manifest-pinned
  * file index ([[org.apache.spark.sql.graft.GraftScanPlanning]]):
  * partition pruning comes from the manifest's partition spec,
  * `WHERE` ranges additionally skip whole partitions through the
  * manifest column stats, and filter/column pushdown + vectorized
  * decode are the stock parquet path. Time travel maps `VERSION AS
  * OF` to the store's snapshot versions and `TIMESTAMP AS OF`
  * (micros from Spark, millis in the store) to [[VersionedTableStore
  * .versionAsOf]] — both serve IMMUTABLE snapshots, so a travel read
  * never blocks or sees a concurrent writer.
  *
  * Writes ride the v1-fallback write path (`V1Write` — the store
  * commits whole DataFrames, so the driver-side InsertableRelation is
  * the honest bridge; no per-task commit protocol to fake). INSERT
  * OVERWRITE is a full-snapshot commit. INSERT INTO appends: when
  * the incoming partition set is provably disjoint from the live
  * rels the commit is a partition DELTA (untouched partitions keep
  * their immutable dirs — the 100 TB path for date-partitioned
  * appends); otherwise it degrades to read-union-rewrite, which is
  * correct but rewrites the table — the scaladoc'd trade until the
  * store grows a file-level append commit. Catalog options:
  * `root` (required), `keepSnapshots`, and per-table manifest stats
  * as `stats.<table> = col1,col2`.
  *
  * Namespacing is single-level: everything lives in `default`
  * (mirroring the store's flat table names); `graft.t` and
  * `graft.default.t` both resolve.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  /** `CREATE TABLE ... DEFAULT` / `ALTER ... ADD COLUMN ... DEFAULT`:
    * Spark gates the DEFAULT grammar on this capability; the store
    * records the literals in the manifest (see
    * [[graft.table.ColumnDefaults]]). */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** `CALL graft.system.<proc>(...)` — maintenance as SQL; see
    * [[GraftProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(GraftProcedures.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    GraftProcedures.load(() => store, ident.name)
  }

  override def listProcedures(ns: Array[String]): Array[Identifier] = {
    if (!(ns.isEmpty || ns.sameElements(GraftProcedures.namespace)))
      throw new NoSuchNamespaceException(ns)
    GraftProcedures.names.toArray.map(n =>
      Identifier.of(GraftProcedures.namespace, n))
  }

  private var catalogName: String = "graft"
  private var root: String = _
  private var keepSnapshots: Int = 10
  private var statsOf: Map[String, Seq[String]] = Map.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root"))
    keepSnapshots = Option(options.get("keepSnapshots")).map(_.toInt)
      .getOrElse(10)
    statsOf = options.asCaseSensitiveMap().asScala.collect {
      case (k, v) if k.startsWith("stats.") =>
        k.drop("stats.".length) -> v.split(",").map(_.trim).filter(_.nonEmpty)
          .toSeq
    }.toMap
  }

  override def name(): String = catalogName

  /** The store is bound to the ACTIVE session lazily per call:
    * catalogs outlive sessions in Spark's registry, and the store
    * only needs a session for read/commit plumbing. */
  private[catalog] def store: VersionedTableStore =
    new VersionedTableStore(SparkSession.active, root, keepSnapshots,
      statsFor = n => statsOf.getOrElse(n, Nil))

  private def checkNs(ns: Array[String]): Unit =
    if (!(ns.isEmpty || ns.sameElements(Array("default"))))
      throw new NoSuchNamespaceException(ns)

  private def fs(s: VersionedTableStore) = new Path(root)
    .getFileSystem(s.spark.sparkContext.hadoopConfiguration)

  override def listTables(ns: Array[String]): Array[Identifier] = {
    checkNs(ns)
    val st = store
    val f = fs(st)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Array.empty
    else f.listStatus(rootPath).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => f.exists(new Path(s"$root/$n/_commits")))
      .sorted
      .map(n => Identifier.of(Array("default"), n))
  }

  override def tableExists(ident: Identifier): Boolean = {
    checkNs(ident.namespace)
    store.exists(ident.name)
  }

  override def loadTable(ident: Identifier): Table = {
    // three-part names select an inspection table of the middle part:
    // graft.default.orders.history / .partitions / .stats
    if (ident.namespace.length == 2 && ident.namespace.head == "default" &&
        GraftMetadataTables.names(ident.name)) {
      val st = store
      if (!st.exists(ident.namespace.apply(1))) throw new NoSuchTableException(ident)
      return GraftMetadataTables(st, ident.namespace.apply(1), ident.name)
    }
    checkNs(ident.namespace)
    val st = store
    if (!st.exists(ident.name)) throw new NoSuchTableException(ident)
    new GraftTable(st, ident.name, pinnedVersion = None)
  }

  /** `VERSION AS OF <ref>`: a snapshot version number, or a NAMED ref
    * — a branch (its head) or a tag (its pinned version). Branch
    * names are required to be non-numeric, so the forms never
    * collide; branches shadow tags on a name clash. */
  override def loadTable(ident: Identifier, version: String): Table = {
    checkNs(ident.namespace)
    val st = store
    val v = version.toLongOption.getOrElse {
      val byBranch = st.branches(ident.name)
        .collectFirst { case (b, head, _) if b == version => head }
      byBranch.orElse(st.tags(ident.name)
          .collectFirst { case (t, tv) if t == version => tv })
        .getOrElse(throw new NoSuchTableException(ident))
    }
    new GraftTable(st, ident.name, pinnedVersion = Some(v))
  }

  /** `TIMESTAMP AS OF <ts>`: Spark hands MICROseconds since epoch;
    * the store stamps commit millis. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    checkNs(ident.namespace)
    val st = store
    val v = st.versionAsOf(ident.name, timestampMicros / 1000L)
    new GraftTable(st, ident.name, pinnedVersion = Some(v))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    checkNs(ident.namespace)
    val st = store
    if (st.exists(ident.name)) throw new TableAlreadyExistsException(ident)
    // identity plus HIDDEN partitioning transforms
    // (graft.table.PartitionTransforms): days(ts), bucket(N, col),
    // truncate(W, col) — the derived value lives in directory paths
    // only, never in the schema
    val partitionBy = partitions.toSeq.map { t =>
      def srcOf: String = t.references.head.fieldNames.mkString(".")
      t.name match {
        case "identity" => srcOf
        case "days" => s"days($srcOf)"
        case "months" => s"months($srcOf)"
        case "years" => s"years($srcOf)"
        case "hours" => s"hours($srcOf)"
        case "bucket" =>
          val nb = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value.toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform without a bucket count: $t"))
          s"bucket$nb($srcOf)"
        case "truncate" =>
          val w = t.arguments.collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              l.value.toString.toInt
          }.getOrElse(throw new IllegalArgumentException(
            s"truncate transform without a width: $t"))
          s"truncate$w($srcOf)"
        case other => throw new IllegalArgumentException(
          s"graft tables support identity, days, bucket, truncate " +
            s"partitioning; got $other")
      }
    }
    graft.table.PartitionTransforms.validate(partitionBy,
      graft.table.FieldIds.stripSchema(schema))
    // the store's manifest DDL must stay metadata-free (toDDL renders
    // DEFAULT clauses fromDDL cannot re-parse); the default literals
    // live in the manifest's own ledger, recorded below
    val empty = st.spark.createDataFrame(
      st.spark.sparkContext.emptyRDD[Row],
      graft.table.FieldIds.stripSchema(schema))
    // CREATE TABLE (c INT DEFAULT 5, ...): Spark encodes the DEFAULT
    // clauses as CURRENT_DEFAULT field metadata. Validate every
    // literal (and the no-default-on-partition-columns rule) BEFORE
    // anything commits, then thread the ledger entries into the
    // table-creating commit itself — CREATE is ONE atomic manifest
    // CAS, so a rejected default or a death mid-create can never
    // leave a live table with partial defaults (which would also make
    // the CREATE retry hit TableAlreadyExists). The exists half is
    // empty for create-time columns: every file of this table will
    // physically hold them.
    // only IDENTITY partition columns reject defaults: their values
    // come from rel paths, never from file contents. A hidden
    // TRANSFORM's source (days(ts)'s ts) is an ordinary data column
    // stored in every file — a create-time default there is
    // legitimate (Iceberg allows it), and the derived rel value
    // computes from the defaulted data like from any other row.
    val idSources =
      graft.table.PartitionTransforms.identitySources(partitionBy)
    val initialDefaults = schema.toSeq.flatMap { f =>
      if (!f.metadata.contains(graft.table.ColumnDefaults.CurrentKey)) None
      else {
        val sql = f.metadata.getString(graft.table.ColumnDefaults.CurrentKey)
        require(!idSources.contains(f.name),
          s"partition column `${f.name}` cannot carry a default: its " +
            "values come from rel paths")
        graft.table.ColumnDefaults.validate(f.name, f.dataType, sql)
        Some((f.name, "", sql))
      }
    }
    st.commitFull(empty, ident.name, partitionBy,
      statsColumns = statsOf.getOrElse(ident.name, Nil),
      initialDefaults = initialDefaults)
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD COLUMNS / DROP COLUMN`: metadata-only
    * schema evolution through [[VersionedTableStore.evolveSchema]] —
    * one manifest commit sharing every data dir with the head, zero
    * data I/O. Added columns read as NULL from pre-evolution files
    * (they must be nullable, enforced), dropped columns stop being
    * projected but remain in the files — and in HISTORY: `VERSION AS
    * OF` a pre-evolution snapshot serves the old schema. RENAME
    * COLUMN is metadata-only too, via the column-identity ledger
    * ([[graft.table.FieldIds]]): files record stable field IDs, reads
    * match by ID, so the logical name is free to change with zero
    * data I/O. ALTER COLUMN ... TYPE accepts exactly the LOSSLESS
    * widenings Spark's parquet readers serve natively (int family up,
    * float -> double, decimal precision/scale up); anything that
    * would re-interpret stored bytes is rejected. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    checkNs(ident.namespace)
    val st = store
    if (!st.exists(ident.name)) throw new NoSuchTableException(ident)
    // while `spark.graft.branch` is set (the same conf that routes
    // INSERT), ALTER TABLE evolves the BRANCH head's schema and
    // commits onto the branch lineage — main's schema is untouched
    // until merge/fast-forward. The edit set is resolved against the
    // branch's own current schema, so a branch that already evolved
    // keeps compounding correctly.
    val branch = Option(st.spark.conf.get("spark.graft.branch", null))
      .map(_.trim).filter(_.nonEmpty)
    val snap = branch match {
      case Some(b) => st.snapshotView(ident.name,
        Some(st.branchHeadVersion(ident.name, b)))
      case None => st.snapshotView(ident.name, None)
    }
    var schema = StructType.fromDDL(snap.schemaDDL)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          s"graft tables are flat: cannot add nested ${a.fieldNames.mkString(".")}")
        require(a.isNullable,
          s"ADD COLUMN ${a.fieldNames.head}: must be nullable (existing " +
            "files hold no values for it)")
        require(a.position == null,
          "ADD COLUMN ... FIRST/AFTER: graft appends new columns at the end")
        require(!schema.fieldNames.contains(a.fieldNames.head),
          s"column ${a.fieldNames.head} already exists")
        if (a.defaultValue != null) {
          // ADD COLUMN ... DEFAULT: its own metadata-only commit that
          // also freezes the EXISTENCE default (pre-add files read it
          // instead of NULL — graft.table.ColumnDefaults)
          require(changes.length == 1,
            "ADD COLUMN ... DEFAULT must be its own ALTER TABLE statement")
          st.addColumnWithDefault(ident.name, a.fieldNames.head,
            a.dataType, a.defaultValue.getSql,
            branch = branch.getOrElse(""))
          return loadTable(ident)
        }
        schema = schema.add(a.fieldNames.head, a.dataType, nullable = true)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          s"graft tables are flat: ${d.fieldNames.mkString(".")}")
        val n = d.fieldNames.head
        if (!schema.fieldNames.contains(n)) {
          if (!java.lang.Boolean.TRUE.equals(d.ifExists))
            throw new IllegalArgumentException(s"no such column: $n")
        } else {
          require(!snap.partitionBy.contains(n),
            s"cannot drop partition column `$n`")
          schema = StructType(schema.filterNot(_.name == n))
          require(schema.nonEmpty, "cannot drop the last column")
        }
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          s"graft tables are flat: ${r.fieldNames.mkString(".")}")
        // METADATA-ONLY rename via the column-identity ledger — its
        // own manifest commit (validations + stats/ledger renames live
        // in the store). Composes with other clauses: Spark issues one
        // TableChange per ALTER statement, so the pending ADD/DROP
        // edit set is always empty here.
        require(changes.length == 1,
          "RENAME COLUMN must be its own ALTER TABLE statement")
        st.renameColumn(ident.name, r.fieldNames.head, r.newName,
          branch = branch.getOrElse(""))
        return loadTable(ident)
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1,
          s"graft tables are flat: ${u.fieldNames.mkString(".")}")
        // SET DEFAULT moves the CURRENT default only (what future
        // INSERTs fill); the exists half never moves. DROP DEFAULT
        // arrives as an empty/null SQL string.
        require(changes.length == 1,
          "ALTER COLUMN ... SET/DROP DEFAULT must be its own statement")
        val sqlTxt = Option(u.newCurrentDefault).map(_.getSql)
          .filter(t => t != null && t.nonEmpty)
        st.setColumnDefault(ident.name, u.fieldNames.head, sqlTxt,
          branch = branch.getOrElse(""))
        return loadTable(ident)
      case a: TableChange.AddConstraint =>
        // enforced CHECK only: unique/PK/FK would be unenforceable
        // promises here (RELY metadata without verification) — reject
        // rather than silently weaken semantics
        val chk = a.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check => c
          case other => throw new UnsupportedOperationException(
            s"graft tables support CHECK constraints only; got $other")
        }
        require(changes.length == 1,
          "ADD CONSTRAINT must be its own ALTER TABLE statement")
        // existing rows validate in the store (one predicate scan);
        // every later write re-validates ITS OWN files incrementally
        st.addCheckConstraint(ident.name, chk.name, chk.predicateSql,
          branch = branch.getOrElse(""))
        return loadTable(ident)
      case d: TableChange.DropConstraint =>
        require(changes.length == 1,
          "DROP CONSTRAINT must be its own ALTER TABLE statement")
        st.dropCheckConstraint(ident.name, d.name,
          branch = branch.getOrElse(""), ifExists = d.ifExists)
        return loadTable(ident)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          s"graft tables are flat: ${u.fieldNames.mkString(".")}")
        // METADATA-ONLY lossless widening (int family up, float ->
        // double, decimal precision/scale up) — rejected in the store
        // for anything that would re-interpret stored bytes
        require(changes.length == 1,
          "ALTER COLUMN ... TYPE must be its own ALTER TABLE statement")
        st.widenColumn(ident.name, u.fieldNames.head, u.newDataType,
          branch = branch.getOrElse(""))
        return loadTable(ident)
      case other => throw new UnsupportedOperationException(
        s"graft tables support ADD COLUMNS (nullable, appended), DROP " +
          s"COLUMN, RENAME COLUMN, and ALTER COLUMN ... TYPE (lossless " +
          s"widening) only; got $other.")
    }
    st.evolveSchema(ident.name, schema.toDDL, branch = branch.getOrElse(""))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    checkNs(ident.namespace)
    val st = store
    if (!st.exists(ident.name)) false
    else fs(st).delete(new Path(st.path(ident.name)), true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    checkNs(from.namespace); checkNs(to.namespace)
    val st = store
    if (!st.exists(from.name)) throw new NoSuchTableException(from)
    if (st.exists(to.name)) throw new TableAlreadyExistsException(to)
    // manifests address data dirs RELATIVE to the table dir, so a
    // directory rename moves every snapshot intact
    if (!fs(st).rename(new Path(st.path(from.name)),
        new Path(st.path(to.name))))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  // ----------------------------------------------------- namespaces

  override def listNamespaces(): Array[Array[String]] =
    Array(Array("default"))

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    checkNs(ns)
    if (ns.isEmpty) Array(Array("default")) else Array.empty
  }

  override def loadNamespaceMetadata(
      ns: Array[String]): util.Map[String, String] = {
    checkNs(ns)
    util.Collections.emptyMap()
  }

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || ns.sameElements(Array("default"))

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft catalogs have a single fixed namespace: default")

  override def alterNamespace(ns: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no metadata")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "graft catalogs have a single fixed namespace: default")
}

/** One store table as a v2 [[Table]]: the snapshot (head or
  * time-travel pinned) is resolved ONCE at construction, so every
  * scan this table object plans reads the same immutable version.
  * Schema is presented file-table style: data columns first,
  * partition columns appended. */
class GraftTable(st: VersionedTableStore, tableName: String,
    pinnedVersion: Option[Long]) extends Table
    with SupportsRead with SupportsWrite with SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  /** SQL UPDATE / MERGE INTO / rewrite-path DELETE: group-based
    * copy-on-write where groups are the store's partitions — see
    * [[GraftRowLevelOp]]. (A DELETE whose predicate translates takes
    * the metadata-only [[deleteWhere]] path instead; Spark picks.)
    *
    * While `spark.graft.branch` is set the statement targets the
    * BRANCH (r13, completing the SQL branch lifecycle): the operation
    * scans the branch head's files and its commit lands on the branch
    * lineage — main readers never see it until merge/fast-forward.
    * The branch schema must match main's (Spark resolved the
    * statement against the table handle's schema); an evolve-diverged
    * branch rejects loudly — run the DML through the store API or
    * merge the evolution first.
    *
    * While `spark.graft.wap.id` is set the statement STAGES (r13,
    * completing WAP symmetry with INSERT): the rewrite executes in
    * full — executor-staged files, checks — but its manifest lands as
    * a staged snapshot the head never sees; audit with `VERSION AS OF
    * <staged>` / `.staged`, then `CALL publish_staged` (rejects if
    * the head moved after the scan — the audited replacement rows
    * would be stale) or `drop_staged` (rewrite reclaimed, head never
    * perturbed). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinnedVersion.isEmpty,
      s"row-level ${info.command} on a time-travel handle of $tableName: " +
        "history is immutable")
    require(wapId.isEmpty || branchRef.isEmpty,
      "both spark.graft.wap.id and spark.graft.branch are set — a " +
        s"row-level ${info.command} cannot be WAP-staged and " +
        "branch-targeted at once")
    (branchRef, wapId) match {
      case (Some(b), _) =>
        val bSnap = st.snapshotView(tableName,
          Some(st.branchHeadVersion(tableName, b)))
        require(bSnap.schemaDDL == snapshot.schemaDDL,
          s"branch `$b` of $tableName evolved its schema away from " +
            s"main's — a SQL ${info.command} resolved against main's " +
            "columns cannot rewrite it; merge the evolution or use the " +
            "store API (deleteWhereOn/updateWhereOn)")
        () => new GraftRowLevelOp(st, tableName, bSnap, info.command,
          branch = b)
      case (None, Some(id)) =>
        () => new GraftRowLevelOp(st, tableName, snapshot, info.command,
          wap = id)
      case (None, None) =>
        () => new GraftRowLevelOp(st, tableName, snapshot, info.command)
    }
  }

  /** The pinned snapshot's read side: schemas, file index, pending
    * deletes — shared with the store's library reads. */
  private val read = new SnapshotRead(st, tableName,
    st.snapshotView(tableName, pinnedVersion))

  private[catalog] def snapshot: GraftSnapshot = read.snapshot

  /** Iceberg's `spark.wap.id` pattern: while this session conf is
    * set, INSERT INTO / INSERT OVERWRITE — and, since r13, the
    * row-level statements (UPDATE / MERGE / DELETE, through the group
    * rewrite) — stage under that WAP id instead of moving the head.
    * Audit with `VERSION AS OF <staged version>` (listed in
    * `.staged`), then `CALL graft.system.publish_staged` /
    * `drop_staged`. */
  private def wapId: Option[String] =
    Option(st.spark.conf.get("spark.graft.wap.id", null))
      .map(_.trim).filter(_.nonEmpty)

  /** Branch twin of the WAP conf: while `spark.graft.branch` is set,
    * INSERT INTO / INSERT OVERWRITE commit onto that branch instead
    * of main. Reads are NOT redirected — read a branch explicitly
    * with `VERSION AS OF '<branch>'` (so `INSERT INTO t SELECT ...
    * FROM t` under the conf reads main and appends to the branch,
    * which is also what Iceberg's branch-write conf does). Row-level
    * statements reject while it is set, like WAP. */
  private def branchRef: Option[String] =
    Option(st.spark.conf.get("spark.graft.branch", null))
      .map(_.trim).filter(_.nonEmpty)

  private def requireNoWapOnly(stmt: String): Unit =
    require(wapId.isEmpty,
      s"spark.graft.wap.id is set (`${wapId.get}`) but $stmt cannot be " +
        "staged: only INSERT stages under WAP. Unset the conf to run " +
        s"$stmt directly against the head.")

  override def name(): String = s"graft.default.$tableName"

  override def schema(): StructType = read.schema

  override def partitioning(): Array[Transform] =
    graft.table.PartitionTransforms.specs(snapshot.partitionBy).map {
      case id: graft.table.PartitionTransforms.Identity =>
        Expressions.identity(id.source)
      case d: graft.table.PartitionTransforms.Days =>
        Expressions.days(d.source)
      case m: graft.table.PartitionTransforms.Months =>
        Expressions.months(m.source)
      case y: graft.table.PartitionTransforms.Years =>
        Expressions.years(y.source)
      case h: graft.table.PartitionTransforms.Hours =>
        Expressions.hours(h.source)
      case b: graft.table.PartitionTransforms.Bucket =>
        Expressions.bucket(b.n, b.source)
      case t: graft.table.PartitionTransforms.Truncate =>
        Expressions.apply("truncate",
          Expressions.literal(Integer.valueOf(t.w)),
          Expressions.column(t.source))
    }.toArray

  override def properties(): util.Map[String, String] =
    Map("provider" -> "graft", "version" -> snapshot.version.toString,
      "committedAtMs" -> snapshot.committedAtMs.toString).asJava

  /** Enforced CHECK constraints (`DESCRIBE ... EXTENDED` shows them;
    * the optimizer may RELY on them). Validation status is VALID: the
    * store scanned existing rows at ADD time and every write since
    * re-validated its own files before committing. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    snapshot.checks.map { case (cn, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(cn).predicateSql(sql).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .rely(true).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ)
    // a time-travel handle is a read-only view of history; a stream
    // follows the LIVE head, so it too is unpinned-only
    if (pinnedVersion.isEmpty) {
      caps.add(TableCapability.V1_BATCH_WRITE)
      caps.add(TableCapability.TRUNCATE)
      caps.add(TableCapability.MICRO_BATCH_READ)
      caps.add(TableCapability.STREAMING_WRITE)
    }
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    read.scanBuilder(options,
      stream = if (pinnedVersion.isEmpty)
        Some(org.apache.spark.sql.graft.GraftStreamSpec(st.root, tableName))
      else None)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, _ignored: Boolean): Unit =
              GraftTable.this.insert(data, overwrite)
          }

        /** `df.writeStream.toTable("graft.default.t")`: exactly-once
          * streaming appends — each epoch is one txn-stamped
          * file-level append commit; see
          * [[org.apache.spark.sql.graft.GraftStreamingWrite]].
          * Append mode only (complete mode's truncate semantics would
          * rewrite the table every trigger); WAP staging of a stream
          * is not supported — unset `spark.graft.wap.id`. While
          * `spark.graft.branch` is set (at stream START — the conf is
          * resolved once, like the scanned schema) every epoch
          * appends onto the BRANCH lineage (r13): the firehose lands
          * isolated, audited at leisure, merged when blessed. */
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          require(!overwrite,
            s"streaming into $tableName supports append mode only")
          requireNoWapOnly("writeStream")
          val streamBranch = branchRef
          // fail at stream start, not first epoch: the branch must
          // exist, and the writer's column identities are the BRANCH
          // head's (a branch forked pre-rewrite has its own ledger)
          val writerIds = streamBranch match {
            case Some(b) => st.snapshotView(tableName,
              Some(st.branchHeadVersion(tableName, b))).fieldIds
            case None => snapshot.fieldIds
          }
          val (dirBase, pathBase) = st.newStreamStaging(tableName)
          val qid = info.queryId()
          def dropEpoch(epochId: Long): Unit = {
            val p = new Path(s"$pathBase-e$epochId")
            val fs = p.getFileSystem(
              st.spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p)) fs.delete(p, true)
            ()
          }
          new org.apache.spark.sql.graft.GraftStreamingWrite(st.spark, info,
            snapshot.partitionBy, pathBase,
            onEpochCommit = (epochId, rels) =>
              st.commitStagedAppend(tableName, s"$dirBase-e$epochId", rels,
                txn = s"$qid:$epochId",
                writerIds = writerIds,
                branch = streamBranch.getOrElse("")),
            onEpochAbort = epochId => dropEpoch(epochId))
        }
      }
    }

  /** `DELETE FROM` (and, via the `SupportsDeleteV2` default,
    * `TRUNCATE TABLE`): the conjunction of Spark's pushed predicates
    * becomes one partition-granular copy-on-write
    * [[VersionedTableStore.deleteWhere]] commit — untouched
    * partitions keep their immutable dirs, so a date-scoped delete
    * on a date-partitioned table costs the touched partitions only.
    * `canDeleteWhere` is honest: any predicate outside
    * [[org.apache.spark.sql.graft.V2PredicateBridge]]'s translatable
    * shapes rejects the whole statement up front (Spark then fails
    * the DELETE loudly) rather than deleting a superset or subset. */
  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    pinnedVersion.isEmpty &&
      // under a WAP id the metadata-only path cannot stage; declining
      // here sends Spark to the group rewrite, which stages the DELETE
      // like any other row-level statement
      wapId.isEmpty &&
      org.apache.spark.sql.graft.V2PredicateBridge
        .conjunction(predicates.toSeq).isDefined

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    require(pinnedVersion.isEmpty,
      s"DELETE on a time-travel handle of $tableName: history is immutable")
    requireNoWapOnly("DELETE")
    val cond = org.apache.spark.sql.graft.V2PredicateBridge
      .conjunction(predicates.toIndexedSeq).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE predicate not translatable: ${predicates.mkString(", ")}"))
    branchRef match {
      // branch-scoped DELETE (r13): same copy-on-write, committed onto
      // the branch lineage — the schema guard of the rewrite path is
      // unnecessary here (a predicate that resolved against main's
      // columns evaluates identically over a superset branch schema,
      // and deleteWhereOn reads the branch head's own schema)
      case Some(b) => st.deleteWhereOn(tableName, b, cond)
      case None => st.deleteWhere(tableName, cond, snapshot.partitionBy)
    }
  }

  /** INSERT execution. Overwrite = full-snapshot commit. Append =
    * partition delta when the incoming partition tuples (compared in
    * canonical string form on both sides) are disjoint from the live
    * rels — a delta commit REPLACES touched rels, so overlap must
    * fall back to read-union-rewrite to keep append semantics. */
  private def insert(data: DataFrame, overwrite: Boolean): Unit = {
    import org.apache.spark.sql.functions.col
    // the TABLE's nullability, not the batch's, is what the commit
    // stamps: a VALUES literal arrives non-nullable, and narrowing the
    // manifest schema to NOT NULL would turn pre-evolution files that
    // lack the column from "reads as NULL" into required-column read
    // failures. KnownNullable is a zero-cost passthrough that only
    // relaxes the static bound.
    def alignTo(target: StructType): DataFrame = {
      // Spark resolves the INSERT batch against THIS handle's schema
      // (the main snapshot), so a branch-evolved column is absent
      // from `data`: pad it with NULL (evolution guarantees added
      // columns are nullable) rather than failing or silently
      // reverting it to main's column set. Padding is legitimate ONLY
      // when the batch's columns are a subset of the target's — a
      // batch carrying a column the target does not know (the OLD
      // name after a branch-side RENAME, say) means the values would
      // be silently DISCARDED while the renamed column null-pads:
      // reject loudly instead.
      val unknown = data.columns.filterNot(c =>
        target.fieldNames.contains(c))
      require(unknown.isEmpty,
        s"INSERT batch carries column(s) ${unknown.mkString(", ")} the " +
          s"target schema (${target.fieldNames.mkString(", ")}) does not " +
          "know — renamed on the branch? Write with the target's own " +
          "column names")
      val have = data.columns.toSet
      data.select(target.fields.map { f =>
        if (!have.contains(f.name)) {
          require(f.nullable, s"INSERT batch lacks non-nullable column " +
            s"`${f.name}` of the target schema")
          org.apache.spark.sql.functions.lit(null).cast(f.dataType).as(f.name)
        } else {
          val c = col(f.name)
          if (f.nullable)
            org.apache.spark.sql.graft.ColumnBridge.column(
              org.apache.spark.sql.catalyst.expressions.KnownNullable(
                org.apache.spark.sql.graft.ColumnBridge.expression(c))).as(f.name)
          else c
        }
      }.toSeq: _*)
    }
    val aligned = alignTo(read.storedSchema)
    val statsCols = st.statsFor(tableName)
    val pby = snapshot.partitionBy
    require(wapId.isEmpty || branchRef.isEmpty,
      "both spark.graft.wap.id and spark.graft.branch are set — an " +
        "INSERT cannot be WAP-staged and branch-targeted at once")
    // RETRY-IDEMPOTENT statement marker (Delta txn pattern). Two
    // tiers, matching what each can actually promise:
    //
    //  - `spark.graft.txn.id` set (the Delta appId+version / Iceberg
    //    WAP-id shape): the CALLER names the logical write, so a
    //    harness replaying the statement after a lost success report
    //    retires as a no-op EVEN THOUGH its first run moved the head
    //    — cross-execution replay protection only an external name
    //    can give. Re-running intentionally means supplying a new id.
    //
    //  - unset: the marker carries a per-EXECUTION nonce and guards
    //    exactly the CAS retry loop inside this one statement (a
    //    duplicate-reply re-CAS after the commit actually landed).
    //    A derived (plan-hash, head) marker cannot do more: a replay
    //    re-reads the head its own commit moved and double-lands
    //    anyway, while two CONCURRENT identical INSERTs observing one
    //    head would wrongly collapse — the loser would report success
    //    without writing its rows. Per-execution uniqueness keeps
    //    standard SQL append semantics for both.
    //
    // Scoped per target (main / named branch); WAP staging has its
    // own id machinery.
    val explicitTxn =
      Option(st.spark.conf.get("spark.graft.txn.id", null))
    val execNonce = java.util.UUID.randomUUID().toString.take(12)
    def txnFor(headVersion: Long, scope: String): String =
      explicitTxn match {
        case Some(id) => s"ins:$scope:user:$id"
        case None =>
          s"ins:$scope:$headVersion:$overwrite:" +
            aligned.queryExecution.analyzed.semanticHash() + s":$execNonce"
      }
    branchRef match {
      case Some(b) =>
        // branch-scoped append/overwrite: BOTH the alignment schema
        // and the delta-vs-rewrite decision run against the BRANCH
        // head's state, not main's — after a branch-side
        // evolveSchema the branch head's column set differs from the
        // main snapshot this handle pinned, and aligning to main
        // would silently stamp main's columns onto the branch
        // (reverting the evolved column on overwrite, or failing the
        // read-union on append)
        val bSnap = st.snapshotView(tableName,
          Some(st.branchHeadVersion(tableName, b)))
        val bAligned = alignTo(
          if (bSnap.schemaDDL.nonEmpty) StructType.fromDDL(bSnap.schemaDDL)
          else StructType(Nil))
        val bTxn = txnFor(st.branchHeadVersion(tableName, b), s"b=$b")
        if (overwrite)
          st.commitFull(bAligned, tableName, bSnap.partitionBy, statsCols,
            branch = b, txn = bTxn)
        else if (bSnap.partitionBy.isEmpty ||
            !disjointOf(bAligned, bSnap.partitionBy, bSnap.entries))
          st.commitFull(st.readBranch(tableName, b).unionByName(bAligned),
            tableName, bSnap.partitionBy, statsCols, branch = b, txn = bTxn)
        else
          st.commitPartitions(bAligned, tableName, bSnap.partitionBy,
            statsCols, branch = b, txn = bTxn)
        return
      case None => ()
    }
    wapId match {
      case Some(id) =>
        // stage instead of committing: same delta-vs-rewrite decision
        // tree as the direct path, routed through the WAP machinery
        if (overwrite) st.stageFull(aligned, tableName, id, pby, statsCols)
        else if (pby.isEmpty || !incomingDisjoint(aligned, pby))
          st.stageFull(st.read(tableName).unionByName(aligned), tableName,
            id, pby, statsCols)
        else st.stagePartitions(aligned, tableName, id, pby, statsCols)
        return
      case None => ()
    }
    val txn = txnFor(st.currentVersion(tableName), "main")
    if (overwrite) {
      st.commitFull(aligned, tableName, pby, statsCols, txn = txn); return
    }
    if (pby.isEmpty) {
      st.commitFull(st.read(tableName).unionByName(aligned), tableName,
        pby, statsCols, txn = txn)
      return
    }
    if (incomingDisjoint(aligned, pby))
      st.commitPartitions(aligned, tableName, pby, statsCols, txn = txn)
    else
      st.commitFull(st.read(tableName).unionByName(aligned), tableName,
        pby, statsCols, txn = txn)
  }

  /** True when the batch's partition tuples (canonical string form on
    * both sides) are provably disjoint from the live rels — the
    * condition for an append to commit/stage as a partition DELTA. */
  private def incomingDisjoint(aligned: DataFrame,
      pby: Seq[String]): Boolean =
    disjointOf(aligned, pby, snapshot.entries)

  private def disjointOf(aligned: DataFrame, pby: Seq[String],
      entries: Seq[(String, String)]): Boolean = {
    import org.apache.spark.sql.functions.col
    val existingRelValues: Set[Seq[String]] = entries.map {
      case (rel, _) => rel.split("/").toSeq.map { seg =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(seg.indexOf('=') + 1))
      }
    }.toSet
    val incoming: Set[Seq[String]] = aligned
      .select(graft.table.PartitionTransforms.specs(pby)
        .map(sp => sp.derive.cast("string")): _*)
      .distinct().collect()
      .map(r => pby.indices.map(i =>
        if (r.isNullAt(i))
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .DEFAULT_PARTITION_NAME
        else r.getString(i)))
      .toSet
    incoming.intersect(existingRelValues).isEmpty
  }
}
