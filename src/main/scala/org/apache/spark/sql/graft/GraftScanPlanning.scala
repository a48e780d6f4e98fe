package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, EvalMode, Expression, GenericInternalRow, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.connector.expressions.{FieldReference, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusCache, InMemoryFileIndex, PartitionDirectory, PartitionPath, PartitionSpec, PartitionedFile, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.internal.connector.{PredicateUtils, SupportsMetadata}
import org.apache.spark.sql.{sources => v1}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Scan planning for the graft `TableCatalog` (`graft.table.catalog
  * .GraftCatalog`): turns a versioned-store snapshot — (partition rel
  * -> immutable data dir) entries plus manifest column stats — into
  * Spark's OWN parquet scan machinery.
  *
  * The file index ([[GraftFileIndex]]) carries a partition spec
  * built from the MANIFEST, never inferred from paths: each mapping
  * entry contributes one [[PartitionPath]] whose typed values come
  * from casting the hive-encoded rel segments with the table schema.
  * That buys, with zero custom execution code:
  *
  *  - catalyst partition pruning (pushed partition filters evaluated
  *    against the spec before any dir is listed);
  *  - parquet filter/column pushdown and vectorized reads (the scan
  *    is Spark's [[ParquetScanBuilder]], exactly what `spark.read
  *    .parquet` plans);
  *  - manifest-stats data skipping: [[GraftFileIndex.listFiles]]
  *    additionally drops partitions whose recorded [min, max] for a
  *    pushed data filter's column is disjoint from the filter's
  *    bounds, and consults the partition bloom index for equalities —
  *    fired by ordinary `WHERE` clauses through the catalog and by
  *    `filter`s on the store's library reads alike (both plan over
  *    this one index).
  *
  * Bounds extraction is deliberately conservative: only comparisons of
  * a column against literals are consulted (integer-family bounds
  * numerically, STRING / DATE / TIMESTAMP bounds in their ordered
  * string rendering), every bound is widened to a closed interval, and
  * a rel with no recorded stats for the column always scans.
  */
object GraftScanPlanning {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Typed partition values for one hive-encoded rel ("yr=1996/m=7").
    * `__HIVE_DEFAULT_PARTITION__` decodes to null, everything else
    * casts from its unescaped string form in LEGACY mode (the values
    * were written by Spark's own hive-layout writer, so they parse;
    * LEGACY keeps a malformed foreign dir readable as null instead of
    * failing the whole table). */
  private def relValues(rel: String, partitionSchema: StructType,
      tz: String): InternalRow = {
    val bySeg = rel.split("/").iterator.map { seg =>
      val eq = seg.indexOf('=')
      require(eq > 0, s"partition rel segment without '=': $seg")
      ExternalCatalogUtils.unescapePathName(seg.take(eq)) ->
        ExternalCatalogUtils.unescapePathName(seg.drop(eq + 1))
    }.toMap
    val vals = partitionSchema.fields.map { f =>
      bySeg.get(f.name) match {
        case None | Some(ExternalCatalogUtils.DEFAULT_PARTITION_NAME) => null
        case Some(raw) =>
          Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType,
            Option(tz), EvalMode.LEGACY).eval(null)
      }
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }

  /** Build the snapshot-pinned file index. `entries` are the
    * manifest's (rel, ABSOLUTE dir) rows — rel "." for unpartitioned
    * tables; `stats` its (rel, column, min, max) rows. */
  def fileIndex(spark: SparkSession, partitionSchema: StructType,
      entries: Seq[(String, String)],
      stats: Seq[(String, String, String, String)],
      bloomFor: String =>
        Option[Map[String, org.apache.spark.util.sketch.BloomFilter]] =
        _ => None): GraftFileIndex = {
    val cs = classic(spark)
    val conf = cs.sessionState.newHadoopConf()
    // rel path values parse under the store's FIXED zone — the writer
    // rendered them under it (see PartitionTransforms.StoreTz)
    val tz = graft.table.PartitionTransforms.StoreTz
    def qualified(rel: String, dir: String): Path = {
      val p = if (rel == ".") new Path(dir) else new Path(s"$dir/$rel")
      p.getFileSystem(conf).makeQualified(p)
    }
    val leafDirs = entries.map { case (rel, dir) => qualified(rel, dir) }
    val spec =
      if (partitionSchema.isEmpty) PartitionSpec(StructType(Nil), Nil)
      else PartitionSpec(partitionSchema, entries.zip(leafDirs).map {
        case ((rel, _), leaf) =>
          PartitionPath(relValues(rel, partitionSchema, tz), leaf)
      })
    val statsByRel = stats.groupBy(_._1).map { case (rel, rows) =>
      rel -> rows.flatMap { case (_, c, mn, mx) =>
        try Some(c -> ((BigDecimal(mn), BigDecimal(mx))))
        catch { case _: NumberFormatException => None }
      }.toMap
    }
    // the RAW string stats beside the numeric parse: string / date /
    // timestamp bounds skip on these (cast-to-string renderings of
    // ISO dates and zero-padded timestamps order lexicographically ==
    // chronologically)
    val rawStatsByRel = stats.groupBy(_._1).map { case (rel, rows) =>
      rel -> rows.map { case (_, c, mn, mx) => c -> ((mn, mx)) }.toMap
    }
    val relOfLeaf: Map[String, String] = entries.map(_._1).zip(leafDirs)
      .map { case (rel, leaf) => leaf.toString -> rel }.toMap
    new GraftFileIndex(cs, leafDirs, spec, statsByRel, relOfLeaf, bloomFor,
      rawStatsByRel)
  }

  /** The scan builder Spark's v2 pushdown drives: the same
    * [[ParquetScanBuilder]] a `spark.read.parquet` relation gets,
    * except `build()` wraps the parquet scan in a [[GraftScan]] that
    * adds runtime partition filtering (dynamic partition pruning —
    * which stock v2 file scans LACK) and, when `stream` is set, a
    * micro-batch stream over the table's commit history.
    * `fullSchema` = data columns ++ partition columns (the catalog
    * table's schema); `dataSchema` = the columns physically inside
    * the files. `layout` = the manifest's partitionBy entries
    * (identity names and/or transform specs) — lets the scan project
    * predicates on a transform's SOURCE column into partition
    * filters on the DERIVED column. */
  def scanBuilder(spark: SparkSession, index: GraftFileIndex,
      fullSchema: StructType, dataSchema: StructType,
      options: CaseInsensitiveStringMap,
      partitionSchema: StructType = new StructType(),
      stream: Option[GraftStreamSpec] = None,
      mor: Seq[MorKeys] = Nil,
      layout: Seq[String] = Nil)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new GraftScanBuilder(
      ParquetScanBuilder(classic(spark), index, fullSchema, dataSchema,
        options), partitionSchema, stream, options, fullSchema, mor, layout)

  /** Scan builder for group-based row-level operations — see
    * [[GraftRowOpScanBuilder]]. `attach` hands the built scan back to
    * the operation so its commit can read [[GraftScan.plannedRels]]. */
  def rowOpScanBuilder(spark: SparkSession, index: GraftFileIndex,
      fullSchema: StructType, dataSchema: StructType,
      options: CaseInsensitiveStringMap, partitionSchema: StructType,
      attach: GraftScan => Unit, mor: Seq[MorKeys] = Nil,
      layout: Seq[String] = Nil)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new GraftRowOpScanBuilder(spark, index, fullSchema, dataSchema, options,
      partitionSchema, attach, mor, layout)

  /** HIDDEN-PARTITION PREDICATE PROJECTION (Iceberg's transform
    * projection): turn a catalyst predicate over a transform's SOURCE
    * column into one over the DERIVED partition column, so partition
    * pruning fires for queries and DML that only ever mention the
    * source (`WHERE ts >= X` on a `days(ts)` table prunes to the
    * matching day dirs). Strictly conservative:
    *
    *  - equality / IN project for every transform (`t(x) = t(lit)` is
    *    necessary for `x = lit`);
    *  - range compares project ONLY for order-preserving transforms
    *    (days/months/years/hours/truncate), with strict bounds WIDENED
    *    to closed ones — pruning may keep too much, never too little;
    *  - a literal whose derived value is NULL does not project (a
    *    LEGACY-cast failure lands source rows in the null partition,
    *    which a derived compare would wrongly exclude);
    *  - unrecognized shapes simply do not prune.
    *
    * The returned expressions reference the derived columns by fresh
    * attributes; the file index re-binds by name. */
  private[graft] def projectToLayout(filters: Seq[Expression],
      layout: Seq[String], partitionSchema: StructType): Seq[Expression] = {
    import graft.table.PartitionTransforms
    val specs = PartitionTransforms.specs(layout)
      .filterNot(_.isInstanceOf[PartitionTransforms.Identity])
    if (specs.isEmpty) return Nil
    val bySrc = specs.map(s => s.source -> s).toMap
    def attrOf(sp: PartitionTransforms.Spec): AttributeReference =
      AttributeReference(sp.derivedName,
        partitionSchema(sp.derivedName).dataType)()
    // derived literal, or None when the source literal is non-null but
    // derives null (unprojectable, see scaladoc)
    def dLit(sp: PartitionTransforms.Spec, l: Literal): Option[Literal] = {
      val v = sp.deriveCatalyst(l).eval(null)
      if (v == null && l.value != null) None
      else Some(Literal(v, partitionSchema(sp.derivedName).dataType))
    }
    def cmp(a: AttributeReference, l: Literal,
        mk: (Expression, Expression) => Expression,
        rangeShape: Boolean): Option[Expression] =
      bySrc.get(a.name).filter(sp => !rangeShape || sp.monotonic)
        .flatMap(sp => dLit(sp, l).map(d => mk(attrOf(sp), d)))
    def walk(e: Expression): Option[Expression] = e match {
      case And(l, r) => (walk(l), walk(r)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) => a.orElse(b) // each conjunct prunes independently
      }
      case EqualTo(a: AttributeReference, l: Literal) =>
        cmp(a, l, EqualTo, rangeShape = false)
      case EqualTo(l: Literal, a: AttributeReference) =>
        cmp(a, l, EqualTo, rangeShape = false)
      case ce.In(a: AttributeReference, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        bySrc.get(a.name).flatMap { sp =>
          val ds = vs.map(v => dLit(sp, v.asInstanceOf[Literal]))
          if (ds.exists(_.isEmpty)) None
          else Some(ce.In(attrOf(sp), ds.flatten))
        }
      // strict bounds widen to closed (>= / <=): prune-safe
      case GreaterThan(a: AttributeReference, l: Literal) =>
        cmp(a, l, GreaterThanOrEqual, rangeShape = true)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        cmp(a, l, GreaterThanOrEqual, rangeShape = true)
      case LessThan(a: AttributeReference, l: Literal) =>
        cmp(a, l, LessThanOrEqual, rangeShape = true)
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        cmp(a, l, LessThanOrEqual, rangeShape = true)
      case GreaterThan(l: Literal, a: AttributeReference) =>
        cmp(a, l, LessThanOrEqual, rangeShape = true)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        cmp(a, l, LessThanOrEqual, rangeShape = true)
      case LessThan(l: Literal, a: AttributeReference) =>
        cmp(a, l, GreaterThanOrEqual, rangeShape = true)
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        cmp(a, l, GreaterThanOrEqual, rangeShape = true)
      case _ => None
    }
    filters.flatMap(walk)
  }

  /** Closed-interval bounds per column implied by pushed data
    * filters (a conjunction): only integer-family literal compares
    * are consulted; strict bounds widen to closed ones (prune less,
    * never more). */
  private[graft] def filterBounds(
      filters: Seq[Expression]): Map[String, (BigDecimal, BigDecimal)] = {
    val NoLo = BigDecimal(Long.MinValue) * BigDecimal(Long.MaxValue)
    val NoHi = -NoLo
    def lit(v: Any, t: DataType): Option[BigDecimal] = t match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(BigDecimal(v.toString))
      case _: DecimalType =>
        Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal)
      case _ => None
    }
    def walk(e: Expression): Seq[(String, BigDecimal, BigDecimal)] = e match {
      case And(l, r) => walk(l) ++ walk(r)
      case EqualTo(a: AttributeReference, Literal(v, t)) =>
        lit(v, t).toSeq.map(b => (a.name, b, b))
      case EqualTo(Literal(v, t), a: AttributeReference) =>
        lit(v, t).toSeq.map(b => (a.name, b, b))
      case GreaterThan(a: AttributeReference, Literal(v, t)) =>
        lit(v, t).toSeq.map(b => (a.name, b, NoHi))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, t)) =>
        lit(v, t).toSeq.map(b => (a.name, b, NoHi))
      case LessThan(a: AttributeReference, Literal(v, t)) =>
        lit(v, t).toSeq.map(b => (a.name, NoLo, b))
      case LessThanOrEqual(a: AttributeReference, Literal(v, t)) =>
        lit(v, t).toSeq.map(b => (a.name, NoLo, b))
      case GreaterThan(Literal(v, t), a: AttributeReference) =>
        lit(v, t).toSeq.map(b => (a.name, NoLo, b))
      case GreaterThanOrEqual(Literal(v, t), a: AttributeReference) =>
        lit(v, t).toSeq.map(b => (a.name, NoLo, b))
      case LessThan(Literal(v, t), a: AttributeReference) =>
        lit(v, t).toSeq.map(b => (a.name, b, NoHi))
      case LessThanOrEqual(Literal(v, t), a: AttributeReference) =>
        lit(v, t).toSeq.map(b => (a.name, b, NoHi))
      case _ => Nil
    }
    filters.flatMap(walk).groupBy(_._1).map { case (c, bs) =>
      c -> ((bs.map(_._2).max, bs.map(_._3).min))
    }
  }

  /** Closed string-form bounds per column implied by pushed data
    * filters over STRING / DATE / TIMESTAMP attributes — the ordered
    * types whose manifest stats (cast-to-string renderings) compare
    * lexicographically in value order: ISO dates and zero-padded
    * timestamps order chronologically, decimal-fraction seconds
    * compare digit-by-digit correctly, and strings are themselves.
    * Literals render through the SAME Cast-to-string the stats writer
    * used (fixed StoreTz, LEGACY), so both sides of every compare come
    * from one rendering. Strict bounds widen to closed; unrecognized
    * shapes contribute nothing — pruning stays prune-only. */
  private[graft] def filterStrBounds(filters: Seq[Expression])
      : Map[String, (Option[String], Option[String])] = {
    import org.apache.spark.sql.types.{DateType, TimestampType}
    // literals render under the store's FIXED zone: the stats writer
    // renders min/max under it too (columnStats), so both sides of
    // every lexicographic compare come from one tz-independent
    // rendering no matter who wrote or who reads
    val tz = graft.table.PartitionTransforms.StoreTz
    def render(v: Any, t: DataType): Option[String] = t match {
      case StringType =>
        Option(v).map(_.toString)
      case DateType | TimestampType =>
        Option(Cast(Literal(v, t), StringType, Option(tz), EvalMode.LEGACY)
          .eval(null)).map(_.toString)
      case _ => None
    }
    def ok(a: AttributeReference, t: DataType): Boolean =
      a.dataType == t &&
        (t == StringType || t == DateType || t == TimestampType)
    // (column, lo, hi) with None = unbounded side
    def walk(e: Expression): Seq[(String, Option[String], Option[String])] =
      e match {
        case And(l, r) => walk(l) ++ walk(r)
        case EqualTo(a: AttributeReference, Literal(v, t)) if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, Some(s), Some(s)))
        case EqualTo(Literal(v, t), a: AttributeReference) if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, Some(s), Some(s)))
        case GreaterThan(a: AttributeReference, Literal(v, t)) if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, Some(s), None))
        case GreaterThanOrEqual(a: AttributeReference, Literal(v, t))
            if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, Some(s), None))
        case LessThan(a: AttributeReference, Literal(v, t)) if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, None, Some(s)))
        case LessThanOrEqual(a: AttributeReference, Literal(v, t))
            if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, None, Some(s)))
        case GreaterThan(Literal(v, t), a: AttributeReference) if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, None, Some(s)))
        case GreaterThanOrEqual(Literal(v, t), a: AttributeReference)
            if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, None, Some(s)))
        case LessThan(Literal(v, t), a: AttributeReference) if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, Some(s), None))
        case LessThanOrEqual(Literal(v, t), a: AttributeReference)
            if ok(a, t) =>
          render(v, t).toSeq.map(s => (a.name, Some(s), None))
        case _ => Nil
      }
    filters.flatMap(walk).groupBy(_._1).map { case (c, bs) =>
      val los = bs.flatMap(_._2)
      val his = bs.flatMap(_._3)
      c -> ((if (los.isEmpty) None else Some(los.max),
        if (his.isEmpty) None else Some(his.min)))
    }
  }

  /** (column, value) of every STRING-column equality against a
    * non-null string literal in a conjunction — the string keys a
    * partition bloom index can rule out. */
  private[graft] def stringEqualities(
      filters: Seq[Expression]): Seq[(String, String)] =
    filters.flatMap {
      case And(l, r) => stringEqualities(Seq(l, r))
      case EqualTo(a: AttributeReference, Literal(v, StringType))
          if a.dataType == StringType && v != null => Seq(a.name -> v.toString)
      case EqualTo(Literal(v, StringType), a: AttributeReference)
          if a.dataType == StringType && v != null => Seq(a.name -> v.toString)
      case _ => Nil
    }
}

/** File index over a manifest-pinned snapshot. Planning prunes whole
  * partitions (rels) BEFORE listing any of them, and lists only the
  * survivors:
  *
  *  1. Spark's partition pruning — pushed partition filters evaluated
  *     against the manifest-built partition spec;
  *  2. manifest-stats skipping — a partition whose recorded [min, max]
  *     for a pushed filter column is disjoint from the filter's
  *     closed-interval bounds is dropped; a partition with no stats row
  *     for the column always survives (conservative), so pruning can
  *     only remove provably-empty reads;
  *  3. the partition bloom index, for equalities on an indexed column.
  *
  * Listing goes through the process-global [[FileStatusCache]] and
  * Spark's own bulk lister (parallel past the session's discovery
  * threshold; a missing dir fails the read): snapshot data dirs are
  * immutable once committed (rewrites land in FRESH dirs, expiry
  * deletes whole dirs), so cached listings stay valid for exactly as
  * long as the snapshot they describe is readable. Whole-snapshot
  * questions (`inputFiles`, `sizeInBytes`) list every partition. */
class GraftFileIndex(spark: org.apache.spark.sql.classic.SparkSession,
    leafDirs: Seq[Path], spec: PartitionSpec,
    statsByRel: Map[String, Map[String, (BigDecimal, BigDecimal)]],
    private[graft] val relOfLeaf: Map[String, String],
    bloomFor: String =>
      Option[Map[String, org.apache.spark.util.sketch.BloomFilter]] =
      _ => None,
    rawStatsByRel: Map[String, Map[String, (String, String)]] = Map.empty)
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val statusCache = FileStatusCache.getOrCreate(spark)
  private val listed =
    new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]()

  /** The data files of each leaf dir, listed on first use. */
  private def filesOf(leaves: Seq[Path]): Seq[(Path, Array[FileStatus])] = {
    val toList = leaves.distinct.filterNot(listed.containsKey).filter { p =>
      statusCache.getLeafFiles(p) match {
        case Some(fs) => listed.put(p, fs); false
        case None => true
      }
    }
    if (toList.nonEmpty) {
      val found = InMemoryFileIndex.bulkListLeafFiles(toList, hadoopConf, null,
        spark).toMap
      toList.foreach { p =>
        val fs = found.getOrElse(p, Nil).toArray
        // a live manifest maps only dirs its commit wrote: a missing one
        // is a damaged table (deleted out of band), never an empty
        // partition — fail loudly instead of reading it as empty
        if (fs.isEmpty && !p.getFileSystem(hadoopConf).exists(p))
          throw new java.io.FileNotFoundException(
            s"data dir $p of a live snapshot is missing")
        statusCache.putLeafFiles(p, fs)
        listed.put(p, fs)
      }
    }
    leaves.map(p => p -> listed.get(p))
  }

  private def isDataFile(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
  }

  override def rootPaths: Seq[Path] = leafDirs
  override def partitionSpec(): PartitionSpec = spec
  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    filesOf(leafDirs).toMap
  override def leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap.from(
      filesOf(leafDirs).flatMap(_._2).map(f => f.getPath -> f))
  override def allFiles(): Seq[FileStatus] = filesOf(leafDirs).flatMap(_._2)
  override def refresh(): Unit = { listed.clear(); statusCache.invalidateAll() }

  // scans over the same dirs are the same scan (what lets Spark reuse
  // an exchange over two reads of one snapshot)
  override def equals(other: Any): Boolean = other match {
    case g: GraftFileIndex => leafDirs.toSet == g.rootPaths.toSet
    case _ => false
  }
  override def hashCode(): Int = leafDirs.toSet.hashCode

  /** Partitions surviving the pushed partition filters. */
  private def partitionsFor(filters: Seq[Expression]): Seq[PartitionPath] = {
    val cols = spec.partitionColumns
    if (cols.isEmpty) return leafDirs.map(PartitionPath(InternalRow.empty, _))
    val names = cols.fieldNames.toSet
    val usable = filters.filter(f => f.deterministic &&
      f.references.forall(r => names(r.name)))
    if (usable.isEmpty) spec.partitions
    else {
      val bound = ce.Predicate.createInterpreted(usable.reduce(And).transform {
        case a: AttributeReference =>
          val i = cols.fieldNames.indexOf(a.name)
          ce.BoundReference(i, cols(i).dataType, nullable = true)
      })
      spec.partitions.filter(pp => bound.eval(pp.values))
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bounds = GraftScanPlanning.filterBounds(dataFilters)
    // ordered-string bounds (string/date/timestamp stats): same
    // rel-atomic skip, lexicographic compare over one shared rendering
    val strBounds = GraftScanPlanning.filterStrBounds(dataFilters)
    // compare with Spark's OWN string ordering (UTF8String = unsigned
    // UTF-8 bytes == code-point order): the stats were derived by
    // Spark min/max under that ordering, and Java's UTF-16 compareTo
    // disagrees with it around supplementary characters — a mismatch
    // there would over-prune, i.e. lose rows
    def u8(s: String): UTF8String = UTF8String.fromString(s)
    // partition bloom consultation is LAZY and per-query: only an
    // EQUALITY (long-valued, or a string) on a column with a complete
    // index for this exact snapshot loads blooms — point lookups get
    // the sidecar pruning for free, range scans never pay the load. A
    // bloom can only say "definitely absent": false positives widen
    // the scan, never the results, and a rel missing from the index
    // scans conservatively.
    type Bloom = org.apache.spark.util.sketch.BloomFilter
    val equalities: Seq[(String, Bloom => Boolean)] =
      bounds.toSeq.collect {
        case (c, (lo, hi)) if lo == hi && lo.isValidLong =>
          c -> ((b: Bloom) => b.mightContainLong(lo.toLong))
      } ++ GraftScanPlanning.stringEqualities(dataFilters).map { case (c, v) =>
        c -> ((b: Bloom) => b.mightContainString(v))
      }
    val blooms: Seq[(Map[String, Bloom], Bloom => Boolean)] =
      equalities.flatMap { case (c, test) => bloomFor(c).map(_ -> test) }
    def survives(leaf: Path): Boolean = {
      val rel = relOfLeaf.get(leaf.toString)
      val st = rel.flatMap(statsByRel.get).getOrElse(Map.empty)
      val raw = rel.flatMap(rawStatsByRel.get).getOrElse(Map.empty)
      bounds.forall { case (c, (lo, hi)) =>
        st.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      } && strBounds.forall { case (c, (lo, hi)) =>
        raw.get(c).forall { case (mn, mx) =>
          lo.forall(l => u8(mx).compareTo(u8(l)) >= 0) &&
            hi.forall(h => u8(mn).compareTo(u8(h)) <= 0)
        }
      } && blooms.forall { case (idx, test) =>
        rel.flatMap(idx.get).forall(test)
      }
    }
    val kept = partitionsFor(partitionFilters).filter(pp => survives(pp.path))
    val files = filesOf(kept.map(_.path)).toMap
    val dirs =
      if (spec.partitionColumns.isEmpty)
        Seq(PartitionDirectory(InternalRow.empty,
          kept.flatMap(pp => files(pp.path)).filter(isDataFile).toArray))
      else kept.map(pp =>
        PartitionDirectory(pp.values, files(pp.path).filter(isDataFile)))
    dirs.filter(_.files.nonEmpty)
  }
}

/** What a graft table's micro-batch stream needs to know at
  * `toMicroBatchStream` time; the stream itself lives in
  * `graft.streaming.TableRowStream` (built lazily so batch-only
  * queries never touch streaming classes). */
case class GraftStreamSpec(root: String, table: String)

/** Delegating [[org.apache.spark.sql.connector.read.ScanBuilder]]:
  * every pushdown Spark drives on a parquet scan builder (catalyst
  * filters, column pruning, aggregate pushdown, variant extraction)
  * forwards to the wrapped [[ParquetScanBuilder]]; only `build()`
  * differs, wrapping the resulting [[ParquetScan]] in a [[GraftScan]].
  * (A subclass override is impossible: `ParquetScanBuilder.build()`
  * narrows its return type to `ParquetScan`.) */
class GraftScanBuilder(inner: ParquetScanBuilder,
    partitionSchema: StructType, stream: Option[GraftStreamSpec],
    options: CaseInsensitiveStringMap,
    fullSchema: StructType = new StructType(),
    mor: Seq[MorKeys] = Nil,
    layout: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {

  // kept for hidden-partition predicate projection at build() time
  private var allPushed: Seq[Expression] = Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    allPushed = filters
    inner.pushFilters(filters)
  }
  override def pushedFilters: Array[Predicate] = inner.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // pending merge-on-read deletes filter rows BY KEY at read time:
    // the key columns must survive pruning for the filter to resolve
    // (Spark's projection above the scan still narrows the output)
    val widened =
      if (mor.isEmpty) requiredSchema
      else {
        val have = requiredSchema.fieldNames.toSet
        StructType(requiredSchema.fields ++
          mor.flatMap(_.cols).distinct.filterNot(have)
            .map(c => fullSchema(c)))
      }
    inner.pruneColumns(widened)
  }
  // footer-stat aggregates cannot see merge-on-read deletes: while
  // any are pending, aggregation stays un-pushed (plain scan path,
  // row filter applies, results exact)
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    mor.isEmpty && inner.pushAggregation(agg)
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    mor.isEmpty && inner.supportCompletePushDown(agg)
  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction])
      : Array[Boolean] = inner.pushVariantExtractions(extractions)

  override def build(): Scan = {
    val ps0 = inner.build()
    // hidden-partition predicate projection for PLAN-TIME pruning on
    // the ordinary read path: a WHERE on a transform's SOURCE column
    // (the only column a user of a hidden-partitioned table can
    // mention) becomes a partition filter on the DERIVED column —
    // `ts >= X` on a days(ts) table lists only the matching day dirs,
    // complementing the manifest-stats skip (which covers only
    // integer-family bounds). Conservative by construction; see
    // [[GraftScanPlanning.projectToLayout]].
    val projected = GraftScanPlanning.projectToLayout(
      allPushed.filter(_.deterministic), layout, partitionSchema)
    val ps = if (projected.isEmpty) ps0
      else ps0.copy(partitionFilters = ps0.partitionFilters ++ projected)
    new GraftScan(ps, partitionSchema, stream, options, mor, layout)
  }
}

/** The [[Scan]] a graft catalog table builds: Spark's own
  * [[ParquetScan]] for everything batch, plus two capabilities the
  * stock v2 file scan lacks:
  *
  *  - '''Runtime partition filtering''' ([[SupportsRuntimeV2Filtering]]):
  *    dynamic partition pruning. A join whose other side filters the
  *    partition column hands this scan an `IN (<build-side values>)`
  *    predicate AT RUNTIME; the scan folds it into the parquet scan's
  *    partition filters and re-plans, so only the matching manifest
  *    partitions are read — the difference between scanning 3 and
  *    3,000 date partitions when the dim side selected 3 dates.
  *    Translation is best-effort and conservative: a predicate shape
  *    we do not recognize simply does not prune (never over-prunes).
  *  - '''Micro-batch streaming''' (`toMicroBatchStream`):
  *    `spark.readStream.table("graft.default.t")` — row-shaped,
  *    insert-only change feed; see `graft.streaming.TableRowStream`.
  *
  * Batch re-planning contract: `filter` mutates the wrapped scan
  * (exactly how Spark drives the interface — `BatchScanExec` calls
  * `filter(...)` then `toBatch.planInputPartitions()` again); all
  * other methods forward to the CURRENT inner scan. */
class GraftScan(initial: ParquetScan, partitionSchema: StructType,
    stream: Option[GraftStreamSpec], options: CaseInsensitiveStringMap,
    mor: Seq[MorKeys] = Nil,
    layout: Seq[String] = Nil)
    extends Scan with SupportsRuntimeV2Filtering
    with SupportsReportStatistics with SupportsReportPartitioning
    with SupportsMetadata {

  @volatile private var current: ParquetScan = initial

  /** Hidden-partition transforms of the layout, keyed by SOURCE
    * column — lets runtime filters on the source (the only column a
    * user of a hidden-partitioned table can mention) prune DERIVED
    * partition dirs. Empty for identity layouts and callers that
    * don't pass a layout (pure-derived scans like the change feed). */
  private val transformBySrc: Map[String, graft.table.PartitionTransforms.Spec] =
    graft.table.PartitionTransforms.specs(layout)
      .filterNot(_.isInstanceOf[graft.table.PartitionTransforms.Identity])
      .map(s => s.source -> s).toMap

  /** Storage-partitioned-join mode: decided ONCE at scan build (the
    * same session conf Spark's own SPJ machinery keys off), so
    * `outputPartitioning` and `toBatch` cannot disagree mid-plan. */
  private val keyGrouped: Boolean = partitionSchema.nonEmpty &&
    org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
    // hidden-partitioning layouts (PartitionTransforms): derived
    // columns never reach the scan OUTPUT, so a key-grouped report
    // over them would fail resolution — those layouts read as
    // ordinarily-partitioned scans (SPJ stays an identity-layout
    // optimization)
    partitionSchema.fieldNames.forall(n =>
      current.readSchema().fieldNames.contains(n) ||
        readSchema().fieldNames.contains(n))

  /** '''Storage-partitioned joins''' ([[SupportsReportPartitioning]]):
    * with `spark.sql.sources.v2.bucketing.enabled=true` the scan
    * reports its hive layout as a [[KeyGroupedPartitioning]] over the
    * identity transforms of the partition columns, and [[toBatch]]
    * plans one key-tagged split group per manifest partition
    * ([[GraftKeyedFilePartition]] — [[HasPartitionKey]]). Two store
    * tables partitioned on the join key then join with NO shuffle on
    * either side: Spark's `EnsureRequirements` recognizes both sides
    * as co-partitioned and aligns partitions by key instead of
    * exchanging 2×100 TB. Every fallback is Spark's own: a query that
    * prunes the partition columns, a join on other keys, or the conf
    * off all degrade to the ordinary (shuffled) plan, never to a
    * wrong one. */
  override def outputPartitioning(): Partitioning =
    if (!keyGrouped) new UnknownPartitioning(0)
    else new KeyGroupedPartitioning(
      partitionSchema.fieldNames.map(n =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(n)
          : org.apache.spark.sql.connector.expressions.Expression),
      current.fileIndex.asInstanceOf[GraftFileIndex].partitionSpec()
        .partitions.size)

  /** The wrapped parquet scan as Spark last re-planned it (post any
    * runtime filtering) — for plan introspection and tests. */
  def parquetScan: ParquetScan = current

  // The PLAN-facing schema strips field-ID and default-value
  // metadata: both belong to the file-matching boundary (the inner
  // parquet scan's readDataSchema keeps them — that is what resolves
  // renamed columns and materializes existence defaults from old
  // files), but scan OUTPUT attributes feed downstream plans and
  // writes, which must never inherit this table's identities or
  // defaults (graft.table.FieldIds.stripDf rationale).
  override def readSchema(): StructType =
    graft.table.FieldIds.stripSchema(current.readSchema())

  /** Wrap a batch with the merge-on-read delete filter (no-op when
    * none are pending). Row-based reads are forced by the factory. */
  private def wrapMor(b: Batch): Batch =
    if (mor.isEmpty) b
    else new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        b.planInputPartitions()
      override def createReaderFactory(): PartitionReaderFactory =
        new GraftMorReaderFactory(b.createReaderFactory(), readSchema(), mor)
    }

  override def toBatch: Batch = wrapMor(
    if (keyGrouped) new GraftKeyedBatch(current) else current.toBatch)
  override def description(): String = current.description()
  override def getMetaData(): Map[String, String] = current.getMetaData()
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    current.estimateStatistics()
  override def supportedCustomMetrics(): Array[CustomMetric] =
    current.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    current.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (mor.nonEmpty) Scan.ColumnarSupportMode.UNSUPPORTED
    else current.columnarSupportMode()

  /** What runtime filters may target. For identity layouts these are
    * the partition columns themselves. For hidden-partitioned layouts
    * they are the transform SOURCE columns — the only spelling that
    * resolves against the relation's output (the derived column never
    * surfaces there), required both by dynamic partition pruning and
    * by the row-level operations' runtime group filtering (which
    * resolves these refs against the matched-rows plan). Incoming
    * source filters are projected to derived partition filters in
    * [[filter]]. */
  override def filterAttributes(): Array[NamedReference] = {
    // only columns the scan outputs: Spark resolves every filter
    // attribute against the scan's (column-pruned) output, and one it
    // cannot resolve fails the whole plan
    val out = readSchema().fieldNames.toSet
    val cols =
      if (transformBySrc.isEmpty) partitionSchema.fieldNames.toSeq
      else graft.table.PartitionTransforms.specs(layout).map(_.source)
    cols.filter(out).map(n => FieldReference.column(n): NamedReference).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val exprs = predicates.toIndexedSeq
      .flatMap(p => PredicateUtils.toV1(p).flatMap(partitionExpr))
    if (exprs.nonEmpty)
      current = current.copy(
        partitionFilters = current.partitionFilters ++ exprs)
  }

  /** v1 runtime filter -> catalyst expression over the partition
    * schema. The file index re-binds attributes BY NAME against its
    * partition columns, so fresh [[AttributeReference]]s suffice.
    * A filter naming a hidden transform's SOURCE column projects to
    * the DERIVED column (equality/IN only — what DPP and runtime
    * group filtering emit; a literal that derives NULL bails, the
    * conservative rule [[GraftScanPlanning.projectToLayout]]
    * documents). `None` for unsupported shapes — the filter then
    * just does not prune (correctness is unaffected: Spark
    * re-applies the join). */
  private def partitionExpr(f: v1.Filter): Option[Expression] = {
    def field(n: String): Option[org.apache.spark.sql.types.StructField] =
      partitionSchema.find(_.name == n)
    def attr(fd: org.apache.spark.sql.types.StructField): AttributeReference =
      AttributeReference(fd.name, fd.dataType)()
    // external v1 value -> derived partition literal (None: the source
    // literal is untypable or derives null — do not prune)
    def derived(sp: graft.table.PartitionTransforms.Spec,
        v: Any): Option[Literal] =
      try {
        // Literal.apply, NOT Literal.create: create's type inference
        // runs ScalaReflection.schemaFor (full scala-reflect, global
        // lock) PER VALUE, and a row-level op's runtime group filter
        // carries one value per distinct matched source key -- profiled
        // at ~half the wall time of UPDATE statements on a days(ts)
        // layout. apply is a plain match over the same external types;
        // anything it cannot type lands in the NonFatal arm = no
        // pruning, the documented conservative rule.
        val src = Literal(v)
        val d = sp.deriveCatalyst(src).eval(null)
        if (d == null && v != null) None
        else Some(Literal(d, partitionSchema(sp.derivedName).dataType))
      } catch { case scala.util.control.NonFatal(_) => None }
    def derivedAttr(sp: graft.table.PartitionTransforms.Spec) =
      AttributeReference(sp.derivedName,
        partitionSchema(sp.derivedName).dataType)()
    f match {
      case v1.In(a, vs) if transformBySrc.contains(a) =>
        val sp = transformBySrc(a)
        val ds = vs.toIndexedSeq.map(v => derived(sp, v))
        if (ds.exists(_.isEmpty)) None
        else Some(ce.In(derivedAttr(sp), ds.flatten))
      case v1.EqualTo(a, v) if transformBySrc.contains(a) =>
        val sp = transformBySrc(a)
        derived(sp, v).map(d => EqualTo(derivedAttr(sp), d))
      case v1.In(a, vs) => field(a).map(fd =>
        ce.In(attr(fd), vs.toIndexedSeq.map(v => Literal.create(v, fd.dataType))))
      case v1.EqualTo(a, v) => field(a).map(fd =>
        EqualTo(attr(fd), Literal.create(v, fd.dataType)))
      case v1.IsNotNull(a) if transformBySrc.contains(a) =>
        // a LEGACY-cast failure can derive null from a NON-null
        // source, so IsNotNull(source) must not exclude the null
        // partition — evaluate as always-true instead of pruning
        Some(Literal(true))
      case v1.IsNotNull(a) => field(a).map(fd => ce.IsNotNull(attr(fd)))
      case v1.And(l, r) =>
        for (a <- partitionExpr(l); b <- partitionExpr(r)) yield And(a, b)
      case v1.Or(l, r) =>
        for (a <- partitionExpr(l); b <- partitionExpr(r)) yield ce.Or(a, b)
      case _ => None
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    stream match {
      // readSchema() (the stripped override), NOT initial.readSchema():
      // the row stream reads changelog STAGE files written from clean
      // DataFrames — an ID-stamped schema over them would fail the read
      case Some(spec) => graft.streaming.TableRowStream(
        SparkSession.active, spec.root, spec.table, readSchema(),
        checkpointLocation, options)
      case None => initial.toMicroBatchStream(checkpointLocation)
    }

  /** The GROUPS (partition rels) this scan's final plan reads — the
    * deterministic mirror of its file listing (same partition filters
    * incl. runtime ones, same rel-atomic stats skipping), so a
    * group-based row-level rewrite replaces exactly the partitions
    * whose rows it fed through the rewrite. */
  def plannedRels: Set[String] = {
    val idx = current.fileIndex.asInstanceOf[GraftFileIndex]
    idx.listFiles(current.partitionFilters, current.dataFilters)
      .flatMap(_.files.map(f =>
        idx.relOfLeaf(f.getPath.getParent.toString)))
      .toSet
  }
}

/** Pending merge-on-read delete keys, resolved DRIVER-side at scan
  * build (key sets are takedown-sized by the store's contract, and
  * they exist only until the next full rewrite applies them): one
  * entry per key-column signature, values in a canonical
  * JVM-serializable form ([[MorKeys.canonical]]) so the executor-side
  * row filter compares without catalyst objects in the closure. */
case class MorKeys(cols: Seq[String], keys: Set[Seq[Any]])

object MorKeys {

  /** Canonical comparable value for supported key types: strings as
    * JVM String, integer family widened to Long, date/timestamp as
    * their underlying numeric. Unsupported types were rejected at
    * `deleteKeys` time; a null never matches (keys are na-dropped). */
  def canonical(row: InternalRow, i: Int,
      dt: DataType): Any =
    if (row.isNullAt(i)) null
    else dt match {
      case StringType => row.getUTF8String(i).toString
      case LongType => row.getLong(i)
      case IntegerType => row.getInt(i).toLong
      case ShortType => row.getShort(i).toLong
      case ByteType => row.getByte(i).toLong
      case org.apache.spark.sql.types.BooleanType => row.getBoolean(i)
      case org.apache.spark.sql.types.DateType => row.getInt(i).toLong
      case org.apache.spark.sql.types.TimestampType => row.getLong(i)
      case other => throw new UnsupportedOperationException(
        s"merge-on-read delete key type not supported in scans: $other")
    }

  /** Load every pending delete batch's keys to the driver, grouped by
    * key-column signature. Bounded: key sets past
    * `spark.graft.mor.maxScanKeys` (default 5M) reject LOUDLY instead
    * of silently ballooning every scan's driver memory and per-row
    * filter — at that size the takedown should be applied physically
    * (`compact`) rather than carried merge-on-read. */
  def build(spark: SparkSession,
      deletes: Seq[(String, String)]): Seq[MorKeys] = {
    val maxKeys = Option(spark.conf.get("spark.graft.mor.maxScanKeys", null))
      .map(_.toLong).getOrElse(5000000L)
    deletes.groupBy(_._2).toSeq.sortBy(_._1).map { case (colsCsv, batches) =>
      val cols = colsCsv.split(",").toSeq
      val df = classic(spark).read.parquet(batches.map(_._1): _*)
      val schema = df.schema
      val idx = cols.map(schema.fieldIndex)
      val n = df.count()
      require(n <= maxKeys,
        s"$n pending merge-on-read delete keys over (${colsCsv}) exceed " +
          s"spark.graft.mor.maxScanKeys=$maxKeys: run compact to apply the " +
          "takedown physically before further reads")
      val rows = df.queryExecution.toRdd.map(_.copy()).collect()
      MorKeys(cols, rows.map(r => idx.map(i =>
        canonical(r, i, schema(i).dataType)).toSeq).toSet)
    }
  }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}

/** Reader factory applying pending merge-on-read deletes row-by-row:
  * wraps the parquet factory, forces row-based reads (a deleted row
  * cannot be filtered out of a shared ColumnarBatch), and drops rows
  * whose key tuple is in any pending batch. The scan builder forced
  * the key columns into the read schema, so the ordinals always
  * resolve. */
class GraftMorReaderFactory(inner: PartitionReaderFactory,
    readSchema: StructType, mor: Seq[MorKeys])
    extends PartitionReaderFactory {

  private val resolved: Seq[(Seq[(Int, DataType)], Set[Seq[Any]])] =
    mor.map { mk =>
      (mk.cols.map(c =>
        (readSchema.fieldIndex(c), readSchema(c).dataType)), mk.keys)
    }

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private var row: InternalRow = _
      private def deleted(candidate: InternalRow): Boolean =
        resolved.exists { case (ix, keys) =>
          keys.contains(ix.map { case (i, dt) =>
            MorKeys.canonical(candidate, i, dt) })
        }
      override def next(): Boolean = {
        while (r.next()) {
          val c = r.get()
          if (!deleted(c)) { row = c; return true }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = r.close()
    }
  }
}

/** The batch a key-grouped [[GraftScan]] plans: the SAME file
  * listing, splitting, and bin-packing discipline as Spark's
  * [[org.apache.spark.sql.execution.datasources.v2.FileScan]] — but
  * packing never crosses a partition value, and every resulting
  * split group carries its partition key ([[HasPartitionKey]]).
  * Spark's `groupPartitions` then merges same-key groups into one
  * task when a storage-partitioned join engages; when it does not
  * (it requires EVERY partition keyed — always true here), the
  * groups execute as ordinary file partitions with the ordinary
  * parallelism, because bin-packing within a key still yields one
  * task per `maxSplitBytes` of data. Reading rides the wrapped
  * [[ParquetScan]]'s own reader factory — vectorized decode,
  * pushed filters, and column pruning are untouched. */
class GraftKeyedBatch(ps: ParquetScan) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val dirs = ps.fileIndex.listFiles(ps.partitionFilters, ps.dataFilters)
    val maxSplit = FilePartition.maxSplitBytes(ps.sparkSession, dirs)
    var i = -1
    dirs.iterator.flatMap { dir =>
      val splits = dir.files.flatMap { f =>
        // the scan's own splitability verdict: false under pushed
        // aggregation (a footer-stat read split in two would count
        // the file's rows twice) and for any other non-splittable case
        PartitionedFileUtil.splitFiles(f, f.getPath,
          isSplitable = ps.isSplitable(f.getPath), maxSplit, dir.values)
      }.sortBy(-_.length) // largest-first packing, as FileScan does
      FilePartition.getFilePartitions(ps.sparkSession, splits, maxSplit)
        .map { fp =>
          i += 1
          new GraftKeyedFilePartition(i, fp.files, dir.values.copy())
        }
    }.toArray[InputPartition]
  }
  override def createReaderFactory(): PartitionReaderFactory =
    ps.createReaderFactory()
}

/** A [[FilePartition]] (so the parquet reader factory consumes it
  * unchanged) that additionally names the hive partition value all
  * its files share — the unit of storage-partitioned-join
  * alignment. */
class GraftKeyedFilePartition(index: Int, files: Array[PartitionedFile],
    key: InternalRow) extends FilePartition(index, files)
    with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Scan builder for the catalog's GROUP-BASED row-level operations
  * (SQL UPDATE / MERGE INTO / rewrite-path DELETE). The group
  * contract: the scan must return EVERY row of every group it
  * reports, because the written-back data REPLACES those groups
  * wholesale — so unlike the regular builder, nothing row-level is
  * ever pushed to parquet:
  *
  *  - filters on partition columns prune GROUPS (exact, atomic);
  *  - integer-bounds filters feed the manifest-stats skip, which is
  *    rel-atomic by construction (a partition is dropped only when
  *    provably EMPTY of matches — dropping it leaves its rows
  *    untouched, which is precisely "not replaced");
  *  - everything is returned as post-scan (`pushedFilters` stays
  *    empty), so the rewrite's own CASE/filter logic sees full rows.
  *
  * A filter pushed into parquet row groups here would silently DROP
  * non-matching rows from the replacement data — data loss. */
class GraftRowOpScanBuilder(spark: SparkSession, index: GraftFileIndex,
    fullSchema: StructType, dataSchema: StructType,
    options: CaseInsensitiveStringMap, partitionSchema: StructType,
    attach: GraftScan => Unit, mor: Seq[MorKeys] = Nil,
    layout: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var partFilters: Seq[Expression] = Nil
  private var boundsFilters: Seq[Expression] = Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val partCols = partitionSchema.fieldNames.toSet
    partFilters = filters.filter(f => f.deterministic &&
      f.references.nonEmpty && f.references.forall(r => partCols(r.name))) ++
      // hidden-partition projection: predicates on a transform's
      // SOURCE column become derived-column partition filters — group
      // pruning is rel-atomic (a pruned group is left UNREPLACED,
      // exactly "rows untouched"), and projection is conservative
      // (strict bounds widen, null-deriving literals bail), so
      // pruning can only keep extra groups, never lose matched rows
      GraftScanPlanning.projectToLayout(
        filters.filter(_.deterministic), layout, partitionSchema)
    boundsFilters = filters.filterNot(partFilters.contains)
      .filter(f => f.deterministic &&
        GraftScanPlanning.filterBounds(Seq(f)).nonEmpty)
    filters // ALL filters re-evaluate above the scan
  }

  override def pushedFilters: Array[Predicate] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val inner = ParquetScanBuilder(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      index, fullSchema, dataSchema, options)
    // pending merge-on-read deletes: key columns must survive pruning
    // (the row-level rewrite's replacement data must be the
    // POST-delete rows, or the rewrite would resurrect deleted keys)
    val widened =
      if (mor.isEmpty) required
      else {
        val have = required.fieldNames.toSet
        StructType(required.fields ++ mor.flatMap(_.cols).distinct
          .filterNot(have).map(c => fullSchema(c)))
      }
    inner.pruneColumns(widened)
    val ps = inner.build().copy(partitionFilters = partFilters,
      dataFilters = boundsFilters)
    val scan = new GraftScan(ps, partitionSchema, None, options, mor, layout)
    attach(scan)
    scan
  }
}
