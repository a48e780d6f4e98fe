package perfbench

import java.nio.file.Path
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.PipelineRunner
import graft.quality.ValidationRun
import graft.sources.JsonlQuoteSource
import graft.table.VersionedTableStore

/** daily_backfill: `PipelineRunner.runDaily` over consecutive dates on
  * a VersionedTableStore, `runMaintenance()` after every 3rd date. Set-up
  * runs the first date (it creates every table) in fresh stores; the
  * first of them goes on through `WarmupDays` more dates and a
  * maintenance untimed, so that the measured dates run warm code, and is
  * then dropped. The last one is measured from its second date on, for
  * at least `minSteps` dates, so every run has the same number of day
  * samples and includes maintenance. */
class DailyBackfill(spark: SparkSession, seed: Long, work: Path,
    protected val tracer: Option[Tracer]) extends Workload {
  import Main._

  val NSymbols = 100
  val MaintainEvery = 3
  val SetupRepeats = 2
  val WarmupDays = 2
  override def minSteps: Int = 4

  private val rng = new java.util.SplittableRandom(seed)
  val symbols: Seq[String] = Symbols(rng, NSymbols)
  val start: LocalDate = LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(600).toLong)
  private val clock = () => Instant.parse("2026-06-01T02:00:00Z")
  private var retries = 0
  private var runner: PipelineRunner[VersionedTableStore] = _
  private var rawRoot = ""
  private var day = 0 // days run into the kept store

  private def newRunner(dir: Path) = new PipelineRunner(spark,
    new VersionedTableStore(spark, dir.resolve("warehouse").toString),
    rawRoot = dir.resolve("raw").toString, symbols = symbols, clock = clock,
    sleeper = _ => retries += 1)

  def setup(res: Result): Unit = {
    res.sizes ++= Seq("symbols" -> NSymbols, "maintain_every" -> MaintainEvery,
      "start_date" -> start.toString, "setup_repeats" -> SetupRepeats,
      "warmup_days" -> WarmupDays)
    // each repeat: a fresh warehouse whose tables the first backfill
    // date creates; the last one is kept and measured from day 2 on
    for (i <- 1 to SetupRepeats) {
      val dir = work.resolve(s"daily$i")
      val t0 = System.nanoTime()
      val r = newRunner(dir)
      r.runDaily(start.toString)
      res.fixtureSecs += (System.nanoTime() - t0) / 1e9
      if (i == 1) {
        val w0 = System.nanoTime()
        for (d <- 1 to WarmupDays) r.runDaily(start.plusDays(d.toLong).toString)
        r.runMaintenance()
        res.warmupSecs = (System.nanoTime() - w0) / 1e9
      }
      if (i < SetupRepeats) rmrf(dir)
      else { runner = r; rawRoot = dir.resolve("raw").toString; day = 1 }
    }
    retries = 0
  }

  def step(res: Result): Unit = {
    val date = start.plusDays(day.toLong).toString
    timed(res, "day") {
      if (tracer.isEmpty) runner.runDaily(date) else tracedDay(date)
      true
    }
    day += 1
    if (day % MaintainEvery == 0)
      timed(res, "maintenance")(traced("maintenance")(runner.runMaintenance()).nonEmpty)
  }

  /** runDaily's stages in its order, one span each, each retried once
    * and counted as runDaily retries them. */
  private def tracedDay(date: String): Unit = {
    val jobs = runner.jobs
    val extractionTime = clock().toString
    def stage(name: String)(body: => Unit): Unit = traced(name) {
      try body catch { case _: Exception => retries += 1; body }
    }
    stage("extract")(jobs.extract(symbols, date, extractionTime))
    stage("dimensions")(jobs.buildDimensions(date))
    stage("fact")(jobs.buildFact(date, createdAt = extractionTime.take(19).replace('T', ' ')))
    stage("aggregations")(jobs.buildAggregations(forDate = Some(date)))
    stage("validate")(jobs.validate(forDate = Some(date),
      recordAs = Some(ValidationRun(s"daily-$date", clock().toString))))
  }

  def finish(res: Result): Unit = {
    val store = runner.store
    res.sizes ++= Seq("days" -> day)
    timed(res, "check") {
      val fact = store.read("fact_stock_daily_price")
        .agg(count(lit(1)), sum(col("volume")), countDistinct(col("trade_date"))).head()
      val raw = JsonlQuoteSource.readZone(spark, rawRoot)
        .agg(sum(col("volume"))).head()
      val weekly = store.read("agg_stock_weekly_metrics").agg(sum(col("total_volume"))).head()
      val failedRules = store.read("validation_results")
        .filter(!col("passed")).count()
      Seq(
        res.check("fact_rows", fact.getLong(0) == NSymbols.toLong * day,
          s"fact rows ${fact.getLong(0)} != $NSymbols x $day"),
        res.check("fact_days", fact.getLong(2) == day, s"fact dates ${fact.getLong(2)} != $day"),
        res.check("raw_volume", fact.getLong(1) == raw.getLong(0),
          s"fact volume ${fact.getLong(1)} != raw ${raw.getLong(0)}"),
        res.check("weekly_volume", fact.getLong(1) == weekly.getLong(0),
          s"fact volume ${fact.getLong(1)} != weekly ${weekly.getLong(0)}"),
        res.check("validation_history", failedRules == 0, s"$failedRules failed rules"),
        res.check("no_retries", retries == 0, s"$retries stage retries"))
        .forall(identity)
    }
    res.layers ++= Layers.table(store, "fact_stock_daily_price")
    res.layers("pipeline.retries") = retries
  }
}
