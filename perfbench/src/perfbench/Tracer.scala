package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Per-span Spark counters from one listener.
  *
  * `span(name)(body)` sets the `perfbench.span` local property around a
  * call into the program; every job started inside carries it, so its
  * stages and tasks are charged to that span. Jobs are also charged to
  * the source file of the action that started them (`op at File.scala:N`
  * in the SQL execution's description, else in the stage name), which
  * splits a span by the program file that started the work.
  *
  * Only the traced run registers this listener: untraced runs pay none
  * of its cost, and the difference between the two is the tracing
  * overhead.
  */
class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spans = mutable.LinkedHashMap[String, Counters]()
  private val sites = mutable.LinkedHashMap[String, SiteCounters]()
  private val stageSpan = mutable.HashMap[Int, String]()
  private val stageSite = mutable.HashMap[Int, String]()
  private val stageSubmitted = mutable.HashMap[(Int, Int), Long]()
  private val executionSite = mutable.HashMap[Long, String]()

  sc.addSparkListener(this)

  /** Run `body` as span `name`, recording its wall time. Counters are
    * complete when this returns: the listener bus is drained after the
    * body, outside the timed interval. */
  def span[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, name)
    val t0 = System.nanoTime()
    try {
      val out = body
      val secs = (System.nanoTime() - t0) / 1e9
      org.apache.spark.perfbench.ListenerDrain(sc)
      synchronized(counters(name).calls.append(secs))
      out
    } finally sc.setLocalProperty(Key, prev)
  }

  /** Record a sub-timing of the current call of span `name`. */
  def note(name: String, field: String, value: Double): Unit = synchronized {
    counters(name).notes.getOrElseUpdate(field, mutable.ArrayBuffer()) += value
  }

  def snapshot(): (Seq[(String, Counters)], Seq[(String, SiteCounters)]) = synchronized {
    org.apache.spark.perfbench.ListenerDrain(sc)
    (spans.toSeq, sites.toSeq)
  }

  private def counters(name: String) = spans.getOrElseUpdate(name, new Counters)

  /** A SQL execution's description is the call site of the action that
    * started it, taken on the caller's thread; the stage names of its
    * jobs are not, when adaptive execution submits them from a pool. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(executionSite(x.executionId) = siteOf(x.description))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val name = props.flatMap(p => Option(p.getProperty(Key))).getOrElse(Untagged)
    counters(name).jobs += 1
    val execSite = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSite.get(id.toLong))
    val site = execSite.getOrElse(
      e.stageInfos.maxByOption(_.stageId).map(si => siteOf(si.name)).getOrElse("unknown"))
    e.stageInfos.foreach { si =>
      stageSpan(si.stageId) = name
      stageSite(si.stageId) = site
    }
    sites.getOrElseUpdate(s"$name|$site", new SiteCounters).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmitted((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val name = stageSpan.getOrElse(e.stageId, Untagged)
    val c = counters(name)
    val site = sites.getOrElseUpdate(
      s"$name|${stageSite.getOrElse(e.stageId, "unknown")}", new SiteCounters)
    c.tasks += 1
    site.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val info = e.taskInfo
    stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      c.schedDelayMs += math.max(0L, info.launchTime - sub)
    }
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      val sr = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      val sw = m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += sr
      c.shuffleWriteBytes += sw
      c.spillBytes += m.diskBytesSpilled
      site.shuffleBytes += sr + sw
    }
  }
}

object Tracer {
  val Key = "perfbench.span"
  val Untagged = "untagged"

  final class Counters {
    val calls = mutable.ArrayBuffer[Double]()
    val notes = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    var jobs = 0L
    var tasks = 0L
    var failedTasks = 0L
    var taskMs = 0L
    var schedDelayMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  final class SiteCounters {
    var jobs = 0L
    var tasks = 0L
    var shuffleBytes = 0L
  }

  private val SiteRe = """.* at ([A-Za-z0-9_$]+)\.(scala|java):\d+.*""".r

  /** `collect at DedupOps.scala:812` -> `DedupOps`. */
  def siteOf(stageName: String): String = stageName match {
    case SiteRe(file, _) => file
    case _ => "unknown"
  }
}
