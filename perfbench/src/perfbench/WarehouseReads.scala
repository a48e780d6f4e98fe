package perfbench

import java.nio.file.Path
import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.VersionedTableStore

/** warehouse_reads: a seeded mix of analyst reads over a fact-shaped
  * table built from `Commits` daily partition-delta commits, read
  * through the library path (`read` + filter, `readAsOf`) and the
  * `GraftCatalog` SQL path (range aggregate, one symbol's history).
  * Every answer is checked against totals kept while generating the
  * fixture. */
class WarehouseReads(spark: SparkSession, seed: Long, work: Path,
    protected val tracer: Option[Tracer]) extends Workload {
  import Main._

  val NSymbols = 200
  val Commits = 30
  val SetupRepeats = 2
  val WarmupRounds = 3
  val Table = "fact_stock_daily_price"
  val Catalog = "perfbench_graft"

  private val rng = new java.util.SplittableRandom(seed)
  val symbols: IndexedSeq[String] = Symbols(rng, NSymbols).toIndexedSeq
  val start: LocalDate = LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(600).toLong)
  private def date(i: Int) = Date.valueOf(start.plusDays(i.toLong))

  // volume(symbol)(day) and close price in cents, drawn from the seed
  private val volume = Array.fill(NSymbols, Commits)(1000L + rng.nextInt(100000000))
  private val closeCents = Array.fill(NSymbols, Commits)(5000L + rng.nextInt(50000))
  private val dayVolume = (0 until Commits).map(d => volume.map(_(d)).sum)
  private val commitMs = new Array[Long](Commits)
  private var store: VersionedTableStore = _
  private val mix = new java.util.SplittableRandom(seed * 31 + 7)

  private val schema = StructType(Seq(
    StructField("fact_key", LongType), StructField("stock_symbol", StringType),
    StructField("close_price", DecimalType(18, 4)), StructField("volume", LongType),
    StructField("trade_date", DateType)))

  private def dayFrame(d: Int): DataFrame = {
    val rows = symbols.indices.map { s =>
      Row(s.toLong * 100000 + d, symbols(s),
        java.math.BigDecimal.valueOf(closeCents(s)(d), 2), volume(s)(d), date(d))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  def setup(res: Result): Unit = {
    res.sizes ++= Seq("symbols" -> NSymbols, "commits" -> Commits,
      "rows" -> NSymbols * Commits, "start_date" -> start.toString,
      "setup_repeats" -> SetupRepeats, "warmup_rounds" -> WarmupRounds)
    for (i <- 1 to SetupRepeats) {
      val root = work.resolve(s"reads$i").resolve("warehouse")
      val t0 = System.nanoTime()
      val s = new VersionedTableStore(spark, root.toString, keepSnapshots = Commits)
      for (d <- 0 until Commits) {
        s.commitPartitions(dayFrame(d), Table, partitionBy = Seq("trade_date"))
        commitMs(d) = System.currentTimeMillis()
        Thread.sleep(2) // next commit's stamp is strictly later
      }
      res.fixtureSecs += (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) rmrf(root.getParent) else store = s
    }
    spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.table.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$Catalog.root", store.root)
    // warm-up: WarmupRounds reads of each kind, untimed
    val t0 = System.nanoTime()
    val warm = new java.util.SplittableRandom(seed)
    for (_ <- 1 to WarmupRounds; k <- kinds) runOp(k, warm, record = false)
    res.warmupSecs = (System.nanoTime() - t0) / 1e9
  }

  private val kinds = IndexedSeq(
    "read.fact_range", "read.fact_asof", "read.sql_range", "read.symbol_history")

  /** One analyst round: each kind of read once, in seeded order. */
  def step(res: Result): Unit = {
    val order = kinds.toArray
    for (i <- order.indices.reverse) {
      val j = mix.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    order.foreach(kind => timed(res, kind)(runOp(kind, mix, record = true)))
  }

  /** Plans, then executes, one read; true when it matches the fixture. */
  private def runOp(kind: String, r: java.util.SplittableRandom, record: Boolean): Boolean = {
    def go(df: => DataFrame): Array[Row] = {
      val body = () => {
        val t0 = System.nanoTime()
        val d = df
        val plan = d.queryExecution.executedPlan
        val t1 = System.nanoTime()
        val rows = d.collect()
        val t2 = System.nanoTime()
        if (record) tracer.foreach { t =>
          t.note(kind, "plan_s", (t1 - t0) / 1e9)
          t.note(kind, "exec_s", (t2 - t1) / 1e9)
          t.note(kind, "files_scanned", filesScanned(plan).toDouble)
        }
        rows
      }
      if (record) traced(kind)(body()) else body()
    }
    val table = s"$Catalog.default.$Table"
    kind match {
      case "read.fact_range" | "read.sql_range" =>
        val a = r.nextInt(Commits)
        val b = a + r.nextInt(Commits - a)
        val rows =
          if (kind == "read.fact_range")
            go(store.read(Table)
              .filter(col("trade_date").between(lit(date(a)), lit(date(b))))
              .agg(count(lit(1)), sum(col("volume"))))
          else
            go(spark.sql(s"SELECT count(1), sum(volume) FROM $table " +
              s"WHERE trade_date BETWEEN DATE'${date(a)}' AND DATE'${date(b)}'"))
        rows.length == 1 && rows(0).getLong(0) == NSymbols.toLong * (b - a + 1) &&
          rows(0).getLong(1) == (a to b).map(dayVolume).sum
      case "read.fact_asof" =>
        // as of one of the last week's commits
        val k = Commits - r.nextInt(7)
        val rows = go(store.readAsOf(Table, commitMs(k - 1))
          .agg(count(lit(1)), sum(col("volume"))))
        rows.length == 1 && rows(0).getLong(0) == NSymbols.toLong * k &&
          rows(0).getLong(1) == (0 until k).map(dayVolume).sum
      case "read.symbol_history" =>
        val s = r.nextInt(NSymbols)
        val rows = go(spark.sql(s"SELECT trade_date, volume FROM $table " +
          s"WHERE stock_symbol = '${symbols(s)}' ORDER BY trade_date"))
        rows.length == Commits && rows.indices.forall(d =>
          rows(d).getDate(0) == date(d) && rows(d).getLong(1) == volume(s)(d))
    }
  }

  /** Files the executed plan read: the v1 scans' `numFiles` metric plus
    * the files in the v2 scans' input partitions. */
  private def filesScanned(plan: SparkPlan): Long = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def walk(p: SparkPlan): Long = {
      val own = p match {
        case b: BatchScanExec => b.inputPartitions.collect {
          case fp: FilePartition => fp.files.length.toLong
        }.sum
        case _ => p.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }
      val nested = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case _ => 0L
      }
      own + nested + p.children.map(walk).sum
    }
    walk(root)
  }

  def finish(res: Result): Unit = {
    res.layers ++= Layers.table(store, Table)
  }
}
