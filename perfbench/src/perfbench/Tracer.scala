package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  AdaptiveSparkPlanHelper, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Span and counter recorder for one traced pass.
  *
  * The benchmark records the gate, construct and execute spans itself
  * (see [[Load]]); the job and stage spans below them come from a
  * `SparkListener`, each job parented to the phase span named by the
  * [[Tracer.SpanProperty]] local property that was set when the job was
  * submitted. Per-execution Catalyst phases (which split plan off the
  * front of execute) and codegen facts come from a
  * `QueryExecutionListener`. Everything is kept in memory and written out
  * once, when the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val records = ArrayBuffer.empty[Map[String, Any]]
  private val stageParent = scala.collection.mutable.Map.empty[Int, String]
  private val stageTasks = scala.collection.mutable.Map.empty[(Int, Int), (Long, Int)]

  private def add(r: Map[String, Any]): Unit = records.synchronized(records += r)

  /** Records a span the benchmark measured around a call into the engine. */
  def span(id: String, parent: String, kind: String, gate: String,
      startMs: Double, endMs: Double): Unit =
    add(Map("id" -> id, "parent" -> parent, "kind" -> kind, "gate" -> gate,
      "start" -> startMs, "end" -> endMs))

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Drains the listener bus, detaches, and returns the pass's records. */
  def stop(): Seq[Map[String, Any]] = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    records.synchronized(records.toList)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).orNull
    val id = s"j${e.jobId}"
    stageParent.synchronized(e.stageIds.foreach(s => stageParent.getOrElseUpdate(s, id)))
    add(Map("id" -> id, "parent" -> parent, "kind" -> "job",
      "start" -> e.time.toDouble, "job" -> e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    add(Map("kind" -> "job_end", "id" -> s"j${e.jobId}", "end" -> e.time.toDouble,
      "ok" -> (e.jobResult == JobSucceeded)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    val delay = if (m == null) 0L else math.max(0L, info.duration -
      m.executorRunTime - m.executorDeserializeTime -
      m.resultSerializationTime - info.gettingResultTime)
    val failed = if (e.reason == org.apache.spark.Success) 0 else 1
    stageTasks.synchronized {
      val k = (e.stageId, e.stageAttemptId)
      val (d, f) = stageTasks.getOrElse(k, (0L, 0))
      stageTasks(k) = (d + delay, f + failed)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val (delay, failed) = stageTasks.synchronized(
      stageTasks.remove((s.stageId, s.attemptNumber())).getOrElse((0L, 0)))
    val parent = stageParent.synchronized(stageParent.get(s.stageId)).orNull
    add(Map("id" -> s"s${s.stageId}.${s.attemptNumber()}", "parent" -> parent,
      "kind" -> "stage",
      "start" -> s.submissionTime.getOrElse(0L).toDouble,
      "end" -> s.completionTime.getOrElse(0L).toDouble,
      "tasks" -> s.numTasks, "failed_tasks" -> failed, "delay_ms" -> delay,
      "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime, "peak_mem" -> m.peakExecutionMemory,
      "input_bytes" -> m.inputMetrics.bytesRead,
      "input_rows" -> m.inputMetrics.recordsRead,
      "output_bytes" -> m.outputMetrics.bytesWritten,
      "output_rows" -> m.outputMetrics.recordsWritten,
      "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> m.diskBytesSpilled))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    val bytes = b.memSize + b.diskSize
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid && bytes > 0)
      add(Map("kind" -> "block", "id" -> b.blockId.name, "bytes" -> bytes))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execution(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    execution(qe)

  private def execution(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def seconds(phase: String) = phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0)
    val plan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    val fallbacks = nodes.map(_.expressions.map(_.collect {
      case f: CodegenFallback => f
    }.size).sum).sum
    def metric(p: SparkPlan, name: String): Long =
      p.metrics.get(name).map(_.value).getOrElse(0L)
    add(Map("kind" -> "execution",
      "start" -> phases.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble,
      "planned" -> phases.get("planning").map(_.endTimeMs).getOrElse(0L).toDouble,
      "analysis_s" -> seconds("analysis"),
      "optimization_s" -> seconds("optimization"),
      "planning_s" -> seconds("planning"),
      "fallback_exprs" -> fallbacks,
      "unfused_operators" -> Tracer.unfused(plan),
      "files_listed" -> nodes.collect {
        case s: FileSourceScanExec => metric(s, "numFiles")
      }.sum,
      "files_written" -> nodes.collect {
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum))
  }
}

object Tracer {
  /** Local property naming the phase span a job was submitted under. */
  val SpanProperty = "perfbench.span"

  /** Generated classes compiled so far and the seconds spent compiling them. */
  def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** Physical operators that run outside whole-stage codegen. Exchanges,
    * adaptive-stage wrappers, codegen boundaries and commands are plumbing,
    * not operators, and are not counted. */
  def unfused(plan: SparkPlan): Int = {
    def go(p: SparkPlan, fused: Boolean): Int = {
      val sub = p.subqueries.map(go(_, fused = false)).sum
      sub + (p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan, fused = false)
        case s: QueryStageExec => go(s.plan, fused = false)
        case w: WholeStageCodegenExec => go(w.child, fused = true)
        case i: InputAdapter => go(i.child, fused = false)
        case c: CommandResultExec => go(c.commandPhysicalPlan, fused = false)
        case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec |
             _: ExecutedCommandExec | _: DataWritingCommandExec |
             _: BaseSubqueryExec | _: ReusedSubqueryExec =>
          p.children.map(go(_, fused = false)).sum
        case _ => (if (fused) 0 else 1) + p.children.map(go(_, fused)).sum
      })
    }
    go(plan, fused = false)
  }
}
