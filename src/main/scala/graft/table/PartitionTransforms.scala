package graft.table

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, DateFormatClass, EvalMode, Expression, Literal, Pmod, Substring, XxHash64, Year}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructField, StructType}

/** HIDDEN PARTITIONING for the versioned store — Iceberg's partition
  * transforms, scoped to the append-mostly fact-table shape.
  *
  * A `partitionBy` entry is either a plain column name (identity —
  * every existing table, fully unchanged) or a TRANSFORM spec:
  *
  *  - `days(ts)`      — partition by the day of a timestamp/date
  *                      column; rel paths carry `ts_day=1996-01-02`
  *  - `bucket16(id)`  — partition by `pmod(xxhash64(id), 16)`; paths
  *                      carry `id_bucket=7` (any bucket count)
  *  - `truncate4(sym)`— partition by a string prefix; paths carry
  *                      `sym_trunc=AAPL` (any width)
  *
  * The SOURCE column stays a normal data column in every file; the
  * DERIVED value exists only in the directory layout — users never
  * see or maintain it (the whole point: nobody forgets to add the
  * date column to their WHERE clause, because there is no date
  * column). Spec strings deliberately contain no comma, so they ride
  * the manifest's comma-joined `partitionBy=` field untouched.
  *
  * Pruning needs NO transform awareness: the store's manifest stats
  * record per-rel min/max of the SOURCE column from the data itself,
  * so a `read(...).filter(...)` on the source column and the catalog's
  * `WHERE` skip partitions exactly as they do for identity layouts —
  * the transform's job is only to make partition boundaries ALIGN
  * with the query dimension.
  *
  * Scope (v1, enforced loudly): transform-partitioned tables support
  * full-snapshot and disjoint-partition commits, all reads, time
  * travel, schema evolution on non-source columns, and the catalog
  * CREATE/INSERT/SELECT surface. Row-level DML, upserts, layout
  * rewrites, and branches keep their identity-only contract and
  * reject with a clear message ([[VersionedTableStore]] guards) —
  * the append + read shape IS the 100 TB hidden-partitioning use
  * case (event logs, fact tables). */
object PartitionTransforms {

  sealed trait Spec {
    /** the data column the transform reads */
    def source: String
    /** the hidden column name rel paths carry */
    def derivedName: String
    /** Derivation as a Column over the source — routed through
      * [[deriveCatalyst]] so the write-time Column derivation and the
      * executor/reader-side expression are ONE code path, and both
      * are tz-independent (see [[StoreTz]]). */
    def derive: Column = org.apache.spark.sql.graft.ColumnBridge.column(
      deriveCatalyst(org.apache.spark.sql.graft.ColumnBridge
        .expression(col(source))))
    /** The SAME derivation as a catalyst Expression over an already-
      * bound child — for executor-side rel computation
      * (GraftDataWriter) and predicate projection (GraftScan). MUST
      * stay value-identical to [[derive]]: both sides of every rel
      * string and every projected filter assume it. Time transforms
      * evaluate under fixed [[StoreTz]], never the session zone: a
      * table written and read under different
      * `spark.sql.session.timeZone` values must resolve IDENTICAL rel
      * paths and projected bounds, or pruning silently drops rows and
      * row-level rewrites leave matched groups untouched (Iceberg
      * defines its time transforms over UTC micros for exactly this
      * reason). */
    def deriveCatalyst(child: Expression): Expression
    /** type of the derived column (for the catalog's partition schema) */
    def derivedType: DataType
    /** Is the transform ORDER-PRESERVING on its source (x <= y implies
      * t(x) <= t(y) under the derived type's ordering)? Monotonic
      * transforms project range predicates on the source into range
      * predicates on the partition value (closed/widened); others
      * project equality only. */
    def monotonic: Boolean
    def text: String
  }

  /** The FIXED zone every persisted store artifact is derived and
    * rendered under: transform rel paths, identity partition path
    * values, manifest column stats, and the reader-side projections
    * and parses that must agree with them byte-for-byte. Session-tz
    * derivation would make the on-disk layout a function of who wrote
    * it — a reader under a different `spark.sql.session.timeZone`
    * would then wrongly skip files (silent missing rows) or wrongly
    * prune rewrite groups (un-updated/un-deleted matches). */
  val StoreTz = "UTC"

  final case class Identity(source: String) extends Spec {
    def derivedName: String = source
    override def derive: Column = col(source)
    def deriveCatalyst(child: Expression): Expression = child
    def derivedType: DataType = StringType // unused: identity keeps its own
    def monotonic: Boolean = true
    def text: String = source
  }

  final case class Days(source: String) extends Spec {
    def derivedName: String = s"${source}_day"
    def deriveCatalyst(child: Expression): Expression =
      Cast(child, DateType, Some(StoreTz), EvalMode.LEGACY)
    def derivedType: DataType = DateType
    def monotonic: Boolean = true
    def text: String = s"days($source)"
  }

  final case class Months(source: String) extends Spec {
    def derivedName: String = s"${source}_month"
    def deriveCatalyst(child: Expression): Expression =
      DateFormatClass(castTs(child), Literal("yyyy-MM"), Some(StoreTz))
    def derivedType: DataType = StringType
    // "yyyy-MM" compares lexicographically in time order
    def monotonic: Boolean = true
    def text: String = s"months($source)"
  }

  final case class Years(source: String) extends Spec {
    def derivedName: String = s"${source}_year"
    def deriveCatalyst(child: Expression): Expression =
      Cast(Year(Cast(child, DateType, Some(StoreTz), EvalMode.LEGACY)),
        IntegerType, Some(StoreTz), EvalMode.LEGACY)
    def derivedType: DataType = IntegerType
    def monotonic: Boolean = true
    def text: String = s"years($source)"
  }

  final case class Hours(source: String) extends Spec {
    def derivedName: String = s"${source}_hour"
    def deriveCatalyst(child: Expression): Expression =
      DateFormatClass(castTs(child), Literal("yyyy-MM-dd-HH"), Some(StoreTz))
    def derivedType: DataType = StringType
    def monotonic: Boolean = true
    def text: String = s"hours($source)"
  }

  final case class Bucket(source: String, n: Int) extends Spec {
    def derivedName: String = s"${source}_bucket"
    def deriveCatalyst(child: Expression): Expression =
      Cast(Pmod(new XxHash64(Seq(child)), Literal(n.toLong)), IntegerType,
        Some(StoreTz), EvalMode.LEGACY)
    def derivedType: DataType = IntegerType
    def monotonic: Boolean = false
    def text: String = s"bucket$n($source)"
  }

  final case class Truncate(source: String, w: Int) extends Spec {
    def derivedName: String = s"${source}_trunc"
    def deriveCatalyst(child: Expression): Expression =
      Substring(child, Literal(1), Literal(w))
    def derivedType: DataType = StringType
    // string prefixes preserve order: x <= y implies prefix(x) <= prefix(y)
    def monotonic: Boolean = true
    def text: String = s"truncate$w($source)"
  }

  /** date_format needs a TIMESTAMP child; a DATE or STRING source
    * (both accepted by validate) casts under the SAME fixed zone the
    * transform itself evaluates in. */
  private def castTs(child: Expression): Expression =
    if (child.dataType == org.apache.spark.sql.types.TimestampType) child
    else Cast(child, org.apache.spark.sql.types.TimestampType, Some(StoreTz),
      EvalMode.LEGACY)

  private val DaysRe = """days\(([^(),\s]+)\)""".r
  private val MonthsRe = """months\(([^(),\s]+)\)""".r
  private val YearsRe = """years\(([^(),\s]+)\)""".r
  private val HoursRe = """hours\(([^(),\s]+)\)""".r
  private val BucketRe = """bucket(\d+)\(([^(),\s]+)\)""".r
  private val TruncRe = """truncate(\d+)\(([^(),\s]+)\)""".r

  def parse(entry: String): Spec = entry.trim match {
    case DaysRe(c) => Days(c)
    case MonthsRe(c) => Months(c)
    case YearsRe(c) => Years(c)
    case HoursRe(c) => Hours(c)
    case BucketRe(n, c) =>
      require(n.toInt > 0, s"bucket count must be positive: $entry")
      Bucket(c, n.toInt)
    case TruncRe(w, c) =>
      require(w.toInt > 0, s"truncate width must be positive: $entry")
      Truncate(c, w.toInt)
    case c =>
      require(!c.contains("(") && !c.contains(")"),
        s"unrecognized partition transform `$entry` (supported: " +
          "days(col), bucket<N>(col), truncate<W>(col), identity)")
      Identity(c)
  }

  def specs(partitionBy: Seq[String]): Seq[Spec] = partitionBy.map(parse)

  def isIdentityOnly(partitionBy: Seq[String]): Boolean =
    specs(partitionBy).forall(_.isInstanceOf[Identity])

  /** Hidden (non-identity) derived column names of a layout. */
  def hiddenNames(partitionBy: Seq[String]): Seq[String] =
    specs(partitionBy).collect { case s if !s.isInstanceOf[Identity] =>
      s.derivedName }

  /** Directory-layout column names (identity sources + derived). */
  def pathNames(partitionBy: Seq[String]): Seq[String] =
    specs(partitionBy).map(_.derivedName)

  /** Source data columns the layout reads (for guards/validations). */
  def sourceNames(partitionBy: Seq[String]): Seq[String] =
    specs(partitionBy).map(_.source)

  /** The directory-layout schema a file index parses rel paths with:
    * identity columns keep their declared field from `schema`;
    * transforms contribute their DERIVED (hidden) column. */
  def derivedSchema(partitionBy: Seq[String],
      schema: StructType): StructType =
    StructType(specs(partitionBy).map {
      case id: Identity => schema(id.source)
      case sp => StructField(sp.derivedName, sp.derivedType, nullable = true)
    })

  /** Identity SOURCE columns of a layout — the ones that live in
    * paths rather than files (transform sources stay data columns in
    * every file). */
  def identitySources(partitionBy: Seq[String]): Seq[String] =
    specs(partitionBy).collect { case Identity(s) => s }

  /** Validate a layout against a schema: sources exist, derived
    * names collide with nothing, transforms fit their source types. */
  def validate(partitionBy: Seq[String], schema: StructType): Unit = {
    val sp = specs(partitionBy)
    sp.foreach { s =>
      val f = schema.find(_.name == s.source).getOrElse(
        throw new IllegalArgumentException(
          s"partition transform ${s.text}: no column `${s.source}`"))
      s match {
        case _: Days | _: Months | _: Years | _: Hours => require(
          Seq("timestamp", "date", "string").contains(f.dataType.typeName),
          s"${s.text} needs a timestamp/date column, got " +
            f.dataType.sql)
        case _: Truncate => require(f.dataType.typeName == "string",
          s"${s.text} needs a string column, got ${f.dataType.sql}")
        case _ => ()
      }
      if (!s.isInstanceOf[Identity])
        require(!schema.fieldNames.contains(s.derivedName),
          s"partition transform ${s.text}: derived name " +
            s"`${s.derivedName}` collides with a data column")
    }
    require(sp.map(_.derivedName).distinct.size == sp.size,
      s"duplicate partition dimensions in $partitionBy")
  }
}
