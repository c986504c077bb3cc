package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run, gathered from outside the
  * program: a SparkListener for jobs, stages and task metrics plus a
  * QueryExecutionListener for Catalyst phases and file counts.
  *
  * Counters are keyed `<phase>/<span>`: the phase of the run (cold call,
  * measured operation, ...) and the program call inside it.
  *
  * Attribution never uses stage names (under AQE most are named after
  * the `CompletableFuture` thread that submitted them):
  *  - span: the job-local property [[Tracer.SpanProp]], set by the
  *    benchmark around each call; AQE's submit threads capture and
  *    carry local properties, so every job of a call sees it;
  *  - issuing module: the job's `spark.sql.execution.id` mapped to that
  *    execution's start call site (the result stage's call site for jobs
  *    outside an SQL execution), taking the innermost `graft.` frame;
  *    the outermost `graft.ops.` frame of the same site is the operator
  *    the caller invoked (shared helpers such as `DedupOps.materialize`
  *    issue the jobs of many operators);
  *  - Catalyst phases and plan file counts: by the span whose wall
  *    interval contains the phase's start time (callers are sequential).
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val spans = mutable.Map[String, Counters]()
  private val modules = mutable.Map[String, Counters]()
  private val operators = mutable.Map[String, Counters]()
  private val stageOwner = mutable.Map[Int, (String, String, String)]()
  private val execSite = mutable.Map[Long, String]()
  private val plans = mutable.ArrayBuffer[PlanEvent]()

  private def of(m: mutable.Map[String, Counters], k: String) =
    m.getOrElseUpdate(k, new Counters)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop(SpanProp).getOrElse(Untraced)
    val site = prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong))
      .orElse(j.stageInfos.sortBy(_.stageId).lastOption.map(_.details))
      .getOrElse("")
    val module = moduleOf(site)
    val operator = operatorOf(site)
    of(spans, span).jobs += 1
    if (composed(span)) {
      of(modules, moduleKey(span, module)).jobs += 1
      of(operators, moduleKey(span, operator)).jobs += 1
    }
    j.stageIds.foreach { id =>
      if (!stageOwner.contains(id)) stageOwner(id) = (span, module, operator)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) stageOwner.get(t.stageId).foreach { case (span, module, operator) =>
      val s = of(spans, span)
      s.tasks += 1
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
      s.outputRecords += m.outputMetrics.recordsWritten
      if (composed(span)) {
        of(modules, moduleKey(span, module)).taskRunMs += m.executorRunTime
        of(operators, moduleKey(span, operator)).taskRunMs += m.executorRunTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.durationMs) }
    val plan = qe.executedPlan
    val inFiles = Walk.collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    val outFiles = Walk.collect(plan) {
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    synchronized { plans += PlanEvent(phases, inFiles, outFiles) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Attribute the collected plan events to the spans' wall intervals
    * (call after the listener bus has drained). `extraPhases` are
    * phases the benchmark read itself, e.g. the analysis of a frame a
    * key function returned (no action fired a listener for it). */
  def attribute(intervals: Seq[(String, Long, Long)],
      extraPhases: Seq[(String, String, Long)]): Unit = synchronized {
    def spanAt(ms: Long) = intervals.find { case (_, s, e) => ms >= s && ms <= e }.map(_._1)
    for (p <- plans) {
      for ((phase, (start, dur)) <- p.phases; span <- spanAt(start))
        of(spans, span).addPhase(phase, dur)
      val first = p.phases.values.map(_._1).minOption
      for (ms <- first; span <- spanAt(ms)) {
        of(spans, span).inputFiles += p.inputFiles
        of(spans, span).outputFiles += p.outputFiles
      }
    }
    plans.clear()
    for ((span, phase, dur) <- extraPhases) of(spans, span).addPhase(phase, dur)
  }

  def spanCounters: Map[String, Counters] = synchronized { spans.toMap }
  def moduleCounters: Map[String, Counters] = synchronized { modules.toMap }
  def operatorCounters: Map[String, Counters] = synchronized { operators.toMap }
}

object Tracer {
  val SpanProp = "graft.perfbench.span"
  val Untraced = "none/untraced"
  /** Spans that compose many program calls; their jobs are also split
    * by issuing module. */
  val Composed = Set("corpus.prepare", "key.build", "key.action")
  private def composed(key: String) = Composed(key.substring(key.indexOf('/') + 1))
  /** `<phase>/<module>` for a job of span key `<phase>/<span>`. */
  private def moduleKey(key: String, module: String) =
    key.take(key.indexOf('/') + 1) + module

  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
    var outputRecords = 0L
    var inputFiles = 0L
    var outputFiles = 0L
    var analysisMs = 0L
    var optimizeMs = 0L
    var planMs = 0L
    def addPhase(phase: String, ms: Long): Unit = phase match {
      case "analysis" => analysisMs += ms
      case "optimization" => optimizeMs += ms
      case "planning" => planMs += ms
      case _ =>
    }
  }

  final case class PlanEvent(phases: Map[String, (Long, Long)],
      inputFiles: Long, outputFiles: Long)

  private object Walk extends AdaptiveSparkPlanHelper

  private def graftFrames(site: String) =
    site.split("\n").iterator.map(_.trim.stripPrefix("at "))
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.perfbench.")).toSeq

  /** A frame's top-level object name (`graft.ops.DedupOps$.materialize(...)`
    * gives `DedupOps`; every `graft.queries.Catalog*` gives `Catalog`). */
  private def objectOf(frame: String): String = {
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1).lastOption.getOrElse("")
    val obj = cls.takeWhile(_ != '$')
    if (obj.startsWith("Catalog")) "Catalog" else obj
  }

  /** The innermost `graft.` frame of a call-site long form, as its object
    * name. Frames of this benchmark are skipped; no graft frame gives
    * `Caller` (the job was issued by the benchmark's own action). */
  def moduleOf(site: String): String =
    graftFrames(site).headOption.map(objectOf).getOrElse("Caller")

  /** The outermost `graft.ops.` frame of a call-site long form, as its
    * object name; `Caller` when there is none. */
  def operatorOf(site: String): String =
    graftFrames(site).filter(_.startsWith("graft.ops.")).lastOption.map(objectOf)
      .getOrElse("Caller")
}
