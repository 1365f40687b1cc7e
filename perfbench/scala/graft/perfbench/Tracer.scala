package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the traced-run tree: pass → query → build/execute →
  * job → stage, plus two leaf kinds hung under build/execute — `plan`
  * (one Catalyst query execution) and `batch` (one streaming
  * micro-batch). Times are epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double] = Map.empty)

/** Buffers what Spark's public listener APIs report while a traced query
  * runs. The harness drains the listener bus after each query and calls
  * [[take]], so every buffered event belongs to that query.
  */
final class Tracer {
  import Tracer._

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val taskAggs = mutable.HashMap[Int, StageAgg]()
  private val plans = mutable.ArrayBuffer[(Double, Double, Map[String, Double])]()
  private val batches = mutable.ArrayBuffer[(Double, Double)]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs += Job(e.jobId, group, e.time.toDouble, e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        val end = si.completionTime.getOrElse(System.currentTimeMillis()).toDouble
        stages += Stage(si.stageId, si.submissionTime.fold(end)(_.toDouble), end)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = taskAggs.getOrElseUpdate(e.stageId, new StageAgg)
        a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.in += m.inputMetrics.bytesRead; a.out += m.outputMetrics.bytesWritten
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val start = java.time.Instant.parse(e.progress.timestamp).toEpochMilli.toDouble
      Tracer.this.synchronized { batches += ((start, start + e.progress.batchDuration)) }
    }
  }

  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def secs(p: String) = phases.get(p).fold(0.0)(_.durationMs / 1000.0)
    val nodes = Tracer.PlanWalk.collectWithSubqueries(qe.executedPlan) { case p => p }
    val attrs = Map(
      "analysis_s" -> secs("analysis"),
      "optimization_s" -> secs("optimization"),
      "planning_s" -> secs("planning"),
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
      "single_partition_windows" -> nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }.toDouble,
      "codegen_fallbacks" -> nodes.map(_.expressions.map(
        _.collect { case f: CodegenFallback => f }.size).sum).sum.toDouble)
    val start = if (phases.isEmpty) System.currentTimeMillis().toDouble
      else phases.values.map(_.startTimeMs).min.toDouble
    val end = if (phases.isEmpty) start else phases.values.map(_.endTimeMs).max.toDouble
    synchronized { plans += ((start, end, attrs)) }
  }

  /** Turns the buffered events into job/stage/plan/batch spans hung under
    * the query's build or execute span, then clears the buffers. A job is
    * placed by its job group when it carries one of the harness's groups
    * and by its start time otherwise (streaming micro-batches run under
    * their own groups).
    */
  def take(nextId: () => Int, build: Span, execute: Span): Seq[Span] = synchronized {
    def phaseOf(startMs: Double, group: String): Span =
      if (group == build.name) build
      else if (group == execute.name) execute
      else if (startMs < build.endMs) build else execute
    val jobSpans = jobs.sortBy(_.id).map { j =>
      j -> Span(nextId(), phaseOf(j.startMs, j.group).id, "job", s"job ${j.id}",
        j.startMs, j.endMs)
    }
    val stageSpans = stages.map { s =>
      val parent = jobSpans.find(_._1.stageIds.contains(s.id)).fold(execute.id)(_._2.id)
      val a = taskAggs.getOrElse(s.id, new StageAgg)
      Span(nextId(), parent, "stage", s"stage ${s.id}", s.startMs, s.endMs, Map(
        "tasks" -> a.tasks.toDouble,
        "run_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
        "shuffle_read_b" -> a.shRead.toDouble, "shuffle_write_b" -> a.shWrite.toDouble,
        "spill_b" -> a.spill.toDouble, "input_b" -> a.in.toDouble,
        "output_b" -> a.out.toDouble))
    }
    val planSpans = plans.map { case (s, e, attrs) =>
      Span(nextId(), phaseOf(s, "").id, "plan", "plan", s, e, attrs)
    }
    val batchSpans = batches.map { case (s, e) =>
      Span(nextId(), phaseOf(s, "").id, "batch", "batch", s, e)
    }
    jobs.clear(); stages.clear(); taskAggs.clear(); plans.clear(); batches.clear()
    (jobSpans.map(_._2) ++ stageSpans ++ planSpans ++ batchSpans).toSeq
  }
}

object Tracer {
  private final case class Job(id: Int, group: String, startMs: Double,
      var endMs: Double, stageIds: Seq[Int])
  private final case class Stage(id: Int, startMs: Double, endMs: Double)
  private final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shRead = 0L; var shWrite = 0L; var spill = 0L; var in = 0L; var out = 0L
  }

  /** Plan traversal that descends into adaptive plans, query stages and
    * subqueries. */
  object PlanWalk extends AdaptiveSparkPlanHelper
}
