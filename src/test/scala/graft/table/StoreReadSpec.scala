package graft.table

import java.nio.file.Files
import java.time.{Instant, LocalDate}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{DateType, IntegerType, StringType, StructField, StructType, TimestampType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The store's one read path: every read is a single scan over the
  * snapshot's manifest-pinned file index, `inputFiles` still lists the
  * snapshot's files, and filters skip partitions by manifest stats
  * without ever dropping a matching row. */
class StoreReadSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def fresh() = new VersionedTableStore(spark,
    Files.createTempDirectory("graft-read").toString)

  test("a store read of 30 partition deltas plans exactly one scan leaf") {
    val vs = fresh()
    vs.commitFull(Seq((0, 0L)).toDF("day", "v"), "t", Seq("day"))
    (1 to 30).foreach { d =>
      vs.commitPartitions(Seq((d, d.toLong)).toDF("day", "v"), "t", Seq("day"))
    }
    val df = vs.read("t")
    assert(df.queryExecution.optimizedPlan.collectLeaves().size === 1)
    assert(PlannedScan.scans(df).size === 1)
    assert(df.select("v").as[Long].collect().sorted.toSeq === (0L to 30L))
    // inputFiles lists exactly the snapshot's data files, one per dir
    val fs = new Path(vs.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val onDisk = vs.versionsMapping("t").flatMap { case (rel, d) =>
      fs.listStatus(new Path(s"${vs.path("t")}/_data/$d/$rel")).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => fs.makeQualified(st.getPath).toUri.toString)
    }
    assert(vs.versionsMapping("t").map(_._2).distinct.size === 31)
    assert(df.inputFiles.toSet === onDisk.toSet)
    assert(PlannedScan.files(df).toSet === onDisk.toSet)
    // a filter narrows the planned scan, never inputFiles
    val one = df.filter(col("day") === 7)
    assert(one.inputFiles.toSet === onDisk.toSet)
    assert(PlannedScan.files(one).nonEmpty &&
      PlannedScan.files(one).forall(_.contains("/day=7/")))
  }

  // ------------------------------------------------- pruning property

  /** One generated row: INT, DATE, TIMESTAMP and STRING data columns
    * (each possibly null) in a STRING partition. */
  private case class Rec(i: Option[Int], d: Option[LocalDate],
      ts: Option[Instant], s: Option[String], p: String)

  /** Inclusive bounds on one column, as Spark literals plus the
    * ordering the oracle compares generated values with. */
  private sealed trait Bound {
    def column: String
    def filter: Column
    /** True when the partition holding `rows` has stats for the column
      * (some non-null value) and their [min, max] misses the bound. */
    def disjoint(rows: Seq[Rec]): Boolean
  }

  private def range[T](column: String, lo: T, hi: T, value: Rec => Option[T],
      toLit: T => Any)(implicit ord: Ordering[T]): Bound = {
    val c = column
    new Bound {
      val column: String = c
      val filter: Column = col(c).between(lit(toLit(lo)), lit(toLit(hi)))
      def disjoint(rows: Seq[Rec]): Boolean = {
        val vs = rows.flatMap(value)
        vs.nonEmpty && (ord.lt(vs.max, lo) || ord.gt(vs.min, hi))
      }
      override def toString = s"$c in [$lo, $hi]"
    }
  }

  /** Spark's string order: unsigned UTF-8 bytes (= code points), which
    * Java's UTF-16 `compareTo` contradicts around supplementary
    * characters. */
  private val utf8Order: Ordering[String] = (a: String, b: String) => {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    val n = math.min(x.length, y.length)
    var i = 0
    var r = 0
    while (r == 0 && i < n) { r = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
    if (r != 0) r else x.length - y.length
  }

  // BMP characters above the surrogate range ("～" U+FF5E, "ｱ" U+FF71)
  // sort AFTER supplementary ones ("😀", "𝄞") in UTF-16 but BEFORE
  // them in code-point order: a pruner using Java's order loses rows
  private val tokens = Seq("a", "b", "z", "A", "é", "ß", "中", "日本", "～", "ｱ",
    "😀", "𝄞", "a😀", "aｱ", "")

  private val day0 = LocalDate.of(2024, 1, 1)
  private val t0 = Instant.parse("2024-01-01T00:00:00Z")

  private val genInt = Gen.choose(-5, 20)
  private val genDate = Gen.choose(0, 40).map(n => day0.plusDays(n.toLong))
  private val genTs = for {
    sec <- Gen.choose(0L, 200000L)
    micros <- Gen.oneOf(0L, 250000L, 500000L, 1L)
  } yield t0.plusSeconds(sec).plusNanos(micros * 1000L)
  private val genStr = for {
    a <- Gen.oneOf(tokens); b <- Gen.oneOf(tokens)
  } yield a + b
  private def orNull[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(9 -> g.map(Some(_)), 1 -> Gen.const(None))

  private def genRows(p: String): Gen[Seq[Rec]] = for {
    n <- Gen.choose(1, 5)
    rs <- Gen.listOfN(n, for {
      i <- orNull(genInt); d <- orNull(genDate)
      ts <- orNull(genTs); s <- orNull(genStr)
    } yield Rec(i, d, ts, s, p))
  } yield rs

  /** Inclusive [lo, hi] drawn mostly from values the rows hold, so
    * bounds often sit exactly on a partition's min or max (where an
    * off-by-one prune loses rows), and sometimes from the domain. */
  private def ordered[T](domain: Gen[T], held: Seq[T])(
      implicit o: Ordering[T]): Gen[(T, T)] = {
    val g = if (held.isEmpty) domain
      else Gen.frequency(1 -> domain, 2 -> Gen.oneOf(held))
    for (a <- g; b <- g) yield if (o.lteq(a, b)) (a, b) else (b, a)
  }

  private def genBound(recs: Seq[Rec]): Gen[Bound] = Gen.oneOf(
    ordered(genInt, recs.flatMap(_.i)).map { case (l, h) =>
      range("i", l, h, _.i, identity[Int]) },
    ordered(genDate, recs.flatMap(_.d)).map { case (l, h) =>
      range("d", l, h, _.d, java.sql.Date.valueOf(_: LocalDate)) },
    ordered(genTs, recs.flatMap(_.ts)).map { case (l, h) =>
      range("ts", l, h, _.ts, java.sql.Timestamp.from(_: Instant)) },
    ordered(genStr, recs.flatMap(_.s))(utf8Order).map { case (l, h) =>
      range("s", l, h, _.s, identity[String])(utf8Order) })

  private val genCase: Gen[(Seq[Rec], Seq[Bound])] = for {
    nParts <- Gen.choose(1, 6)
    parts <- Gen.sequence[List[Seq[Rec]], Seq[Rec]](
      (0 until nParts).map(k => genRows(s"p$k")))
    nBounds <- Gen.choose(1, 2)
    bounds <- Gen.listOfN(nBounds, genBound(parts.flatten))
  } yield (parts.flatten, bounds)

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("d", DateType),
    StructField("ts", TimestampType), StructField("s", StringType),
    StructField("p", StringType)))

  private def toRow(r: Rec): Row = Row(r.i.orNull, r.d.map(java.sql.Date.valueOf).orNull,
    r.ts.map(java.sql.Timestamp.from).orNull, r.s.orNull, r.p)

  test("property: filtered reads never drop a matching row and plan no stats-disjoint partition") {
    val vs = fresh()
    var n = 0
    val prop = Prop.forAllNoShrink(genCase) { case (recs, bounds) =>
      n += 1
      val table = s"t$n"
      val rows = spark.createDataFrame(
        spark.sparkContext.parallelize(recs.map(toRow), 2), schema)
      vs.commitFull(rows, table, Seq("p"), statsColumns = Seq("i", "d", "ts", "s"))
      val cond = bounds.map(_.filter).reduce(_ && _)
      val got = vs.read(table).filter(cond)
      def sorted(rs: Array[Row]) = rs.map(_.toString).sorted.toSeq
      // the same filter over the rows as committed: nothing to prune
      val expected = sorted(rows.filter(cond).collect())
      val planned = PlannedScan.files(got)
        .map(_.split("/p=")(1).takeWhile(_ != '/')).toSet
      val disjoint = recs.groupBy(_.p).collect {
        case (p, rs) if bounds.exists(_.disjoint(rs)) => p
      }.toSet
      val label = s"bounds ${bounds.mkString(" && ")}; planned $planned, " +
        s"disjoint $disjoint"
      Prop(sorted(got.collect()) == expected).label(s"rows differ: $label") &&
        Prop(planned.intersect(disjoint).isEmpty).label(s"over-planned: $label")
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(25).withWorkers(1)
      .withInitialSeed(Seed(20261018L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
