package perfbench

import java.nio.file.Paths

import graft.table.VersionedTableStore

/** Per-layer metrics: per-span Spark counters from the [[Tracer]] and
  * the store's shape. The names are fixed (see BENCHMARK.json); a span
  * a workload does not call reports zeros. */
object Layers {
  val Spans: Seq[String] = Seq("extract", "dimensions", "fact", "aggregations",
    "validate", "maintenance", "read.fact_range", "read.fact_asof",
    "read.sql_range", "read.symbol_history", "prepare")
  val Reads: Seq[String] = Spans.filter(_.startsWith("read."))
  val DayStages: Seq[String] = Spans.take(5)
  /** Files whose actions start `Corpus.prepare`'s jobs: DedupOps
    * materializes and runs the component loop; the rest of the lazy
    * plan runs under the benchmark's own aggregate in CorpusPrepare.
    * Any other file is charged to `other`. */
  val PrepareSites: Seq[String] = Seq("DedupOps", "CorpusPrepare", "other")

  def export(t: Tracer, res: Main.Result): Unit = {
    val (spans, sites) = t.snapshot()
    val byName = spans.toMap
    val mb = 1024.0 * 1024.0
    for (s <- Spans) {
      val c = byName.get(s)
      val n = c.map(_.calls.size).getOrElse(0)
      def per(v: Tracer.Counters => Double) = if (n == 0) 0.0 else v(c.get) / n
      res.layers ++= Seq(
        s"$s.wall_s" -> c.map(x => Main.median(x.calls.toSeq)).getOrElse(0.0),
        s"$s.jobs" -> per(_.jobs.toDouble),
        s"$s.tasks" -> per(_.tasks.toDouble),
        s"$s.task_s" -> per(_.taskMs / 1e3),
        s"$s.sched_delay_s" -> per(_.schedDelayMs / 1e3),
        s"$s.shuffle_read_mb" -> per(_.shuffleReadBytes / mb),
        s"$s.shuffle_write_mb" -> per(_.shuffleWriteBytes / mb),
        s"$s.spill_mb" -> per(_.spillBytes / mb),
        s"$s.failed_tasks" -> per(_.failedTasks.toDouble))
    }
    for (s <- Reads; f <- Seq("plan_s", "exec_s", "files_scanned")) {
      val xs = byName.get(s).flatMap(_.notes.get(f)).map(_.toSeq).getOrElse(Nil)
      res.layers(s"$s.$f") =
        if (f == "files_scanned") (if (xs.isEmpty) 0.0 else xs.sum / xs.size)
        else Main.median(xs)
    }
    val prepareFiles = sites.map(_._1).filter(_.startsWith("prepare|"))
      .map(_.stripPrefix("prepare|")).distinct.sorted
    if (prepareFiles.nonEmpty) res.sizes("prepare_site_files") = prepareFiles.mkString(",")
    val prepareCalls = byName.get("prepare").map(_.calls.size).getOrElse(0)
    val perSite = sites.collect { case (k, v) if k.startsWith("prepare|") =>
      val file = k.stripPrefix("prepare|")
      (if (PrepareSites.contains(file)) file else "other") -> v
    }.groupBy(_._1)
    for (f <- PrepareSites) {
      val vs = perSite.getOrElse(f, Nil).map(_._2)
      def per(v: Tracer.SiteCounters => Double) =
        if (prepareCalls == 0) 0.0 else vs.map(v).sum / prepareCalls
      res.layers ++= Seq(
        s"prepare.site.$f.jobs" -> per(_.jobs.toDouble),
        s"prepare.site.$f.tasks" -> per(_.tasks.toDouble),
        s"prepare.site.$f.shuffle_mb" -> per(_.shuffleBytes / mb))
    }
    // store shape and retries: set by workloads that have a store
    for (k <- Seq("table.data_dirs", "table.live_files", "table.space_amp", "pipeline.retries"))
      res.layers.getOrElseUpdate(k, 0.0)
    // stage spans against the whole day they ran in
    val days = res.ops.filter(_.kind == "day").map(_.secs).sum
    val stages = DayStages.flatMap(byName.get).map(_.calls.sum).sum
    res.layers("day.span_cover") = if (days == 0) 0.0 else stages / days
  }

  /** Shape of a store table's head snapshot. */
  def table(store: VersionedTableStore, name: String): Seq[(String, Double)] = {
    val snaps = store.snapshots(name).orderBy(org.apache.spark.sql.functions.col("version").desc)
      .select("n_data_dirs").head().getLong(0)
    val files = store.read(name).inputFiles.toSeq
    val live = files.map(f => java.nio.file.Files.size(Paths.get(new java.net.URI(f)))).sum
    val onDisk = Main.du(Paths.get(store.path(name)))
    Seq("table.data_dirs" -> snaps.toDouble, "table.live_files" -> files.size.toDouble,
      "table.space_amp" -> (if (live == 0) 0.0 else onDisk.toDouble / live))
  }
}
