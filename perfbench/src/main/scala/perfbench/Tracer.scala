package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation as the closed loop saw it: epoch-ms bounds for
  * attribution, a nanosecond-clock latency, and (traced ops only) the
  * layer spans and row counts the workload recorded at its boundaries.
  */
final case class OpRec(
    id: Int,
    name: String,
    start: Long,
    end: Long,
    wallS: Double,
    traced: Boolean,
    ok: Boolean,
    layers: Seq[Span],
    counts: Map[String, Long],
    jvm: JvmSample
) {
  def group: String = Tracer.group(id)
}

final case class Span(id: String, name: String, start: Long, end: Long, parent: String, op: Int) {
  def dur: Long = end - start
}

/** JVM-wide counters read on the driver thread at op boundaries. */
final case class JvmSample(gcMs: Long, jitMs: Long, codegen: Long) {
  def -(o: JvmSample): JvmSample = JvmSample(gcMs - o.gcMs, jitMs - o.jitMs, codegen - o.codegen)
}

object JvmSample {
  def now(): JvmSample = JvmSample(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  )
}

/** Records Spark jobs, stages, tasks, SQL executions and query plans
  * from outside the program, and attributes them to benchmark ops
  * through the job group each op runs under.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  val sqls = new ConcurrentHashMap[Long, Sql]()
  val plans = new ConcurrentLinkedQueue[Plan]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sqlId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
      .getOrElse(-1L)
    jobs.put(e.jobId, new Job(e.jobId, groupOf(e.properties), sqlId, e.time, e.stageIds.size))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.attemptNumber() == 0)
      stages.putIfAbsent(e.stageInfo.stageId, new StageAgg(groupOf(e.properties)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      s.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        s.runMs.addAndGet(m.executorRunTime)
        s.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqls.put(s.executionId, new Sql(s.executionId, s.jobGroupId.getOrElse(""), s.time, writeTarget(s.sparkPlanInfo)))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqls.get(s.executionId)).foreach(_.end = s.time)
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    val at = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.endTimeMs).max
    val write = AqePlans.collectFirst(qe.executedPlan) { case d: DataWritingCommandExec => d.cmd }.collect {
      case c: InsertIntoHadoopFsRelationCommand =>
        (c.outputPath.toUri.getPath, c.metrics.get("numOutputRows").map(_.value).getOrElse(-1L))
    }
    plans.add(Plan(at, planMs, write.map(_._1).getOrElse(""), write.map(_._2).getOrElse(-1L)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Per-op figures for the traced ops, plus every span. Call after the
    * listener bus has drained.
    */
  def attribute(ops: Seq[OpRec], cores: Int): (Seq[OpLayers], Seq[Span]) = {
    val jobsBy = jobs.values.asScala.toSeq.groupBy(_.group)
    val stagesBy = stages.values.asScala.toSeq.groupBy(_.group)
    val sqlsBy = sqls.values.asScala.toSeq.groupBy(_.group)
    val planList = plans.asScala.toSeq
    val spans = ArrayBuffer.empty[Span]
    val layers = ops.filter(_.traced).map { op =>
      val opJobs = jobsBy.getOrElse(op.group, Nil)
      val opStages = stagesBy.getOrElse(op.group, Nil)
      val opSqls = sqlsBy.getOrElse(op.group, Nil)
      val opPlans = planList.filter(p => p.at >= op.start && p.at <= op.end)
      val opSpan = Span(s"op-${op.id}", op.name, op.start, op.end, "", op.id)
      def layerAt(t: Long): String =
        op.layers.find(l => t >= l.start && t <= l.end).map(_.id).getOrElse(opSpan.id)
      spans += opSpan
      spans ++= op.layers
      val sqlSpans = opSqls.map { s =>
        val name = if (s.output.isEmpty) "sql" else s"sql.write:${s.output}"
        Span(s"sql-${s.id}", name, s.start, if (s.end < 0) op.end else s.end, layerAt(s.start), op.id)
      }
      spans ++= sqlSpans
      val sqlIds = opSqls.map(_.id).toSet
      val jobSpans = opJobs.map { j =>
        val parent = if (sqlIds.contains(j.sqlId)) s"sql-${j.sqlId}" else layerAt(j.start)
        Span(s"job-${j.id}", "job", j.start, if (j.end < 0) op.end else j.end, parent, op.id)
      }
      spans ++= jobSpans
      val covered = coverage(jobSpans.map(s => (s.start, s.end)), op.start, op.end)
      val taskMs = opStages.map(_.runMs.get).sum
      OpLayers(
        op,
        planS = opPlans.map(_.planMs).sum / 1e3,
        gapS = (op.end - op.start - covered) / 1e3,
        jobs = opJobs.size,
        sqlExecutions = opSqls.size,
        stages = opStages.size,
        stagesSkipped = opJobs.map(_.stages).sum - opStages.size,
        taskS = taskMs / 1e3,
        tasks = opStages.map(_.tasks.get).sum,
        parallelism = if (covered > 0) taskMs.toDouble / (covered.toDouble * cores) else 0.0,
        shuffleRead = opStages.map(_.shuffleRead.get).sum,
        shuffleWrite = opStages.map(_.shuffleWrite.get).sum,
        spill = opStages.map(_.spill.get).sum,
        writes = opPlans.filter(_.output.nonEmpty).map(p => p.output -> p.rows)
      )
    }
    (layers, spans.toSeq)
  }

  /** Jobs that ran inside a traced op without carrying its job group:
    * nonzero means some work escaped the op's attribution.
    */
  def unlinkedJobs(ops: Seq[OpRec]): Int = {
    val traced = ops.filter(_.traced)
    jobs.values.asScala.count { j =>
      traced.exists(o => j.start >= o.start && j.start <= o.end && j.group != o.group)
    }
  }
}

/** Walks physical plans through adaptive-execution wrappers. */
object AqePlans extends AdaptiveSparkPlanHelper

/** Spark-side figures of one traced op. */
final case class OpLayers(
    op: OpRec,
    planS: Double,
    gapS: Double,
    jobs: Int,
    sqlExecutions: Int,
    stages: Int,
    stagesSkipped: Int,
    taskS: Double,
    tasks: Long,
    parallelism: Double,
    shuffleRead: Long,
    shuffleWrite: Long,
    spill: Long,
    writes: Seq[(String, Long)]
)

object Tracer {
  final class Job(val id: Int, val group: String, val sqlId: Long, val start: Long, val stages: Int) {
    @volatile var end: Long = -1L
  }
  final class StageAgg(val group: String) {
    val tasks, runMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  }
  final class Sql(val id: Long, val group: String, val start: Long, val output: String) {
    @volatile var end: Long = -1L
  }
  /** A finished query plan: planning time and, for file writes, where
    * the rows went and how many.
    */
  final case class Plan(at: Long, planMs: Long, output: String, rows: Long)

  def group(op: Int): String = s"perfbench-op-$op"

  /** Output path of a file write, read off the plan's one-line node strings. */
  def writeTarget(plan: SparkPlanInfo): String = {
    val marker = "InsertIntoHadoopFsRelationCommand "
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    nodes(plan).map(_.simpleString).find(_.contains(marker)).map { s =>
      s.substring(s.indexOf(marker) + marker.length).takeWhile(_ != ',').trim.stripPrefix("file:")
    }.getOrElse("")
  }

  /** Milliseconds of [from, to] covered by the union of `intervals`. */
  def coverage(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus what its children cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - coverage(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end))
    }.toMap
  }

  /** Register a tracer on the session's context and listener manager. */
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
