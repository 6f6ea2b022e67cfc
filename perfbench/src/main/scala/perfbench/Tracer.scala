package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Spans around the benchmark's calls into each layer, plus Spark job,
  * task and query events from listeners. Only watches from outside: it
  * times public calls and reads listener events.
  *
  * Tracing is switched on per measured unit (one backfill, or one trickle
  * pass); each traced unit is a root span. Spans stay in memory and are
  * written out once the run ends. When switched off, `span` just runs
  * its body.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  // trace clock: epoch nanoseconds, so listener times (epoch ms) line up
  private val clockBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + clockBase

  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val queries = ArrayBuffer.empty[QueryRec]
  val stages = scala.collection.mutable.Map.empty[Int, StageRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val execSites = scala.collection.mutable.Map.empty[Long, String]
  private val open = scala.collection.mutable.Stack.empty[Int]
  private var nextId = 0
  @volatile private var curUnit = -1
  private var unitRoot = -1
  def enabled: Boolean = curUnit >= 0

  /** Root span ids of the traced units, in order. */
  val roots = ArrayBuffer.empty[Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val resultStage = e.stageInfos.maxByOption(_.stageId)
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(resultStage.map(_.name)).getOrElse("")
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs += JobRec(e.jobId, e.time, -1L, site, exec, curUnit)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val i = jobs.lastIndexWhere(_.jobId == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
    }
    // a query's jobs can be submitted from Spark's own threads (adaptive
    // stage materialization); the query's call site is the user's action
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execSites(x.executionId) = x.description
      }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = stageRec(e.stageInfo.stageId)
      s.completed += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stageRec(e.stageId)
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  private def stageRec(id: Int): StageRec =
    stages.getOrElseUpdate(id, new StageRec(stageJob.getOrElse(id, -1)))

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      val planMs = PlanPhases.flatMap(phases.get).map(_.durationMs).sum
      val at = phases.get("planning").orElse(phases.values.headOption)
        .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      queries += QueryRec(at, planMs, curUnit)
    }
  }

  /** Run `body` as one traced unit, or untraced when `traced` is false. */
  def unit[T](id: Int, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      // events of earlier, untraced work must not reach the listener
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(queryListener)
      curUnit = id
      val t = try span("unit", Spans.Unattributed)(body) finally {
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(queryListener)
        curUnit = -1
      }
      roots += unitRoot
      attachJobs(id)
      t
    }

  /** Time `body` as a span named `name` whose self time is charged to
    * `category`, nested under the innermost open span.
    */
  def span[T](name: String, category: String, tags: => Map[String, String] = Map.empty)(
      body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      if (parent < 0) unitRoot = id
      val start = now
      open.push(id)
      try body finally {
        open.pop()
        spans += Span(id, parent, name, category, curUnit, start, now, tags = tags)
      }
    }

  /** Listener jobs of a finished unit become leaf spans under the
    * innermost call span that was open at the job's midpoint.
    */
  private def attachJobs(u: Int): Unit = {
    val calls = spans.filter(_.unit == u).toSeq
    jobs.filter(j => j.unit == u && j.endMs >= 0).foreach { j =>
      val (s, e) = (j.startMs * 1000000L, j.endMs * 1000000L)
      Spans.innermost(calls, (s + e) / 2).foreach { p =>
        val id = nextId; nextId += 1
        val site = j.execution.flatMap(execSites.get).getOrElse(j.callSite)
        val cat = Spans.jobCategory(site, p.category)
        spans += Span(id, p.id, s"job ${j.jobId}", cat, u, s, e,
          priority = if (cat == "pool.job") 1 else 0,
          tags = Map("callSite" -> site, "job" -> j.jobId.toString))
      }
    }
  }
}

object Tracer {
  val PlanPhases: Seq[String] = Seq("analysis", "optimization", "planning")

  final case class JobRec(jobId: Int, startMs: Long, endMs: Long, callSite: String,
      execution: Option[Long], unit: Int)
  final case class QueryRec(atMs: Long, planMs: Long, unit: Int)
  final class StageRec(val jobId: Int) {
    var completed = 0L
    var tasks = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var recordsRead = 0L
  }
}
