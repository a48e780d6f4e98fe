package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark harness: builds one workload's inputs from the seed, times
  * closed-loop calls into the program's public entry points for a fixed
  * number of seconds, checks every output, and writes the raw samples
  * as JSON for `run.py` to summarize.
  *
  *   Main --workload daily_backfill|warehouse_reads|corpus_prepare
  *        --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *
  * The loop runs steps until `--seconds` have passed and at least the
  * workload's `minSteps` have run.
  */
object Main {
  /** Every run uses a local[4] session, whatever the machine has. */
  val Cores = 4

  final case class Op(kind: String, secs: Double, cpuSecs: Double, ok: Boolean, note: String)
  final case class Check(name: String, ok: Boolean, detail: String)

  /** Everything a run reports; `run.py` derives the metrics from it. */
  final class Result {
    val ops = mutable.ArrayBuffer[Op]()
    val checks = mutable.ArrayBuffer[Check]()
    val fixtureSecs = mutable.ArrayBuffer[Double]()
    val sizes = mutable.LinkedHashMap[String, Any]()
    val layers = mutable.LinkedHashMap[String, Double]()
    var sessionSecs = 0.0
    var warmupSecs = 0.0
    var firstOpAtSecs = 0.0
    var peakRssMb = 0.0

    def check(name: String, ok: Boolean, detail: => String): Boolean = {
      checks += Check(name, ok, if (ok) "" else detail)
      ok
    }
  }

  /** Runs `op` and records it; a thrown exception or a `false` result
    * is a failed op. */
  def timed(res: Result, kind: String)(op: => Boolean): Boolean = {
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    val (ok, note) =
      try (op, "")
      catch { case NonFatal(e) =>
        (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    res.ops += Op(kind, (System.nanoTime() - t0) / 1e9, (cpuNanos() - c0) / 1e9, ok, note)
    if (!ok) System.err.println(s"[perfbench] $kind failed ${note}")
    ok
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val out = Paths.get(args("out"))

    val res = new Result
    val spark = graft.core.Sessions.local(Cores, s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    res.sessionSecs = sinceJvmStart()
    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    val w: Workload = workload match {
      case "daily_backfill" => new DailyBackfill(spark, seed, work, tracer)
      case "warehouse_reads" => new WarehouseReads(spark, seed, work, tracer)
      case "corpus_prepare" => new CorpusPrepare(spark, seed, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def phase(msg: String) = System.err.println(f"[perfbench] ${sinceJvmStart()}%.1fs $msg")
    try {
      phase("session ready")
      w.setup(res)
      res.firstOpAtSecs = sinceJvmStart()
      phase("setup done")
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var steps = 0
      while (System.nanoTime() < deadline || steps < w.minSteps) { w.step(res); steps += 1 }
      phase(s"measured ${res.ops.size} ops")
      w.finish(res)
      tracer.foreach(t => Layers.export(t, res))
      phase("checks done")
    } catch { case NonFatal(e) =>
      e.printStackTrace()
      res.check("harness", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    res.peakRssMb = peakRssMb()
    Files.write(out, Json.result(workload, seed, trace, env(spark), res)
      .getBytes("UTF-8"))
    spark.stop()
    phase("session stopped")
  }

  /** CPU time of the whole process (every thread, JIT and GC included). */
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos(): Long = osBean.getProcessCpuTime

  /** Peak resident set of this process (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def env(spark: SparkSession): Seq[(String, String)] = Seq(
    "cpus" -> Runtime.getRuntime.availableProcessors().toString,
    "master" -> spark.sparkContext.master,
    "java" -> String.valueOf(System.getProperty("java.version")),
    "spark" -> spark.version,
    "scala" -> scala.util.Properties.versionNumberString,
    "jvm_tz" -> java.util.TimeZone.getDefault.getID,
    "locale" -> java.util.Locale.getDefault.toString,
    "session_tz" -> spark.conf.get("spark.sql.session.timeZone"),
    "max_heap_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString)

  /** Recursively delete `p` (benchmark scratch only). */
  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  /** Bytes under `p` on disk. */
  def du(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** One workload: setup builds inputs and fixture (several times, the
  * last copy is kept), step runs one closed-loop op, finish runs the
  * end-of-run output checks. */
trait Workload {
  /** Steps run even past the deadline, so that every run reports the
    * same number of samples of a slow op. */
  def minSteps: Int = 1
  def setup(res: Main.Result): Unit
  def step(res: Main.Result): Unit
  def finish(res: Main.Result): Unit

  /** Calls `body` inside span `name` when traced, bare otherwise. */
  protected def tracer: Option[Tracer]
  protected def traced[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))
}

/** Seeded symbol universe: distinct 3-5 letter tickers. */
object Symbols {
  def apply(rng: java.util.SplittableRandom, n: Int): Seq[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) {
      val len = 3 + rng.nextInt(3)
      out += Seq.fill(len)(('A' + rng.nextInt(26)).toChar).mkString
    }
    out.toSeq.sorted
  }
}
