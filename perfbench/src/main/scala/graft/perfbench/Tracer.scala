package graft.perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters of one query run, filled from listener events. */
final class QueryTrace {
  /** (jobId, startMs, endMs, ran under the query's job group) */
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long, Boolean)]
  /** (stageId, jobId, submitMs, completeMs, tasks) */
  val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Int)]
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def add(key: String, v: Double): Unit =
    counts(key) = counts.getOrElse(key, 0.0) + v
}

/** SparkListener plus QueryExecutionListener that fills the
  * [[QueryTrace]] of the query in flight. Only one query runs at a
  * time, so every event delivered between [[begin]] and [[end]] is that
  * query's, including jobs started from operator-internal thread pools
  * that do not carry the query's job group. [[end]] first drains the
  * listener bus so that no event of the query is left undelivered. */
final class Tracer(spark: org.apache.spark.sql.classic.SparkSession)
    extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  @volatile private var current: QueryTrace = _
  private val openJobs = mutable.Map.empty[Int, (QueryTrace, Long, Boolean)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var codegenAtBegin = 0L

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def begin(): QueryTrace = {
    val t = new QueryTrace
    codegenAtBegin = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    current = t
    t
  }

  def end(): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    current.add("codegen.compiles",
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenAtBegin).toDouble)
    current = null
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = current
    if (t != null) {
      val grouped = Option(e.properties)
        .exists(_.getProperty("spark.jobGroup.id") != null)
      openJobs(e.jobId) = (t, e.time, grouped)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (t, start, grouped) =>
      t.jobs += ((e.jobId, start, e.time, grouped))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val t = current
    val i = e.stageInfo
    val job = stageJob.remove(i.stageId).getOrElse(-1)
    if (t != null) t.stages += ((i.stageId, job,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = current
    val m = e.taskMetrics
    if (t != null && m != null) {
      t.add("spark.tasks", 1)
      t.add("spark.task_s", e.taskInfo.duration / 1e3)
      t.add("spark.task_run_s", m.executorRunTime / 1e3)
      t.add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      t.add("spark.gc_s", m.jvmGCTime / 1e3)
      t.add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
      t.add("scan.rows", m.inputMetrics.recordsRead.toDouble)
      t.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      t.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      t.add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      t.add("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      t.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
      t.add("write.bytes", m.outputMetrics.bytesWritten.toDouble)
      t.add("write.rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val t = current
    val b = e.blockUpdatedInfo
    if (t != null && b.blockId.isRDD && b.storageLevel.isValid) {
      t.add("checkpoint.blocks", 1)
      t.add("checkpoint.bytes", (b.memSize + b.diskSize).toDouble)
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    execution(qe)

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    execution(qe)

  private def execution(qe: QueryExecution): Unit = synchronized {
    val t = current
    if (t != null) {
      t.add("catalyst.executions", 1)
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
      t.add("catalyst.plan_s", planMs / 1e3)
      walk(qe.executedPlan, t)
    }
  }

  /** Counts exchanges, reused exchanges, scanned files, written files
    * and operator output rows over a final (post-AQE) physical plan. */
  private def walk(p: SparkPlan, t: QueryTrace): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, t)
    case s: QueryStageExec => walk(s.plan, t)
    case _: ReusedExchangeExec => t.add("plan.reused_exchanges", 1)
    case _ =>
      def metric(m: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
          k: String): Double = m.get(k).map(_.value.toDouble).getOrElse(0.0)
      p match {
        case _: Exchange => t.add("plan.exchanges", 1)
        case s: FileSourceScanExec => t.add("scan.files", metric(s.metrics, "numFiles"))
        case w: DataWritingCommandExec => t.add("write.files", metric(w.cmd.metrics, "numFiles"))
        case _ => ()
      }
      t.add("plan.operator_rows", metric(p.metrics, "numOutputRows"))
      p.children.foreach(walk(_, t))
      p.subqueries.foreach(walk(_, t))
  }
}
