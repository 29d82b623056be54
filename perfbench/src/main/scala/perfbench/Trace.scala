package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spans and Spark counters of one run, kept in memory and written once at
  * run end. Spans are recorded by the benchmark around its own calls into
  * the engine's layers, one span per top-level call: the engine is not
  * instrumented, so spans do not nest. The Spark listener adds one record
  * per job and per stage, tagged with the op id the calling thread set as
  * the local property [[Trace.OpKey]] (the dashboard's server thread
  * cannot carry one, so its jobs are matched to requests by time in
  * `report.py`) and the plan counts of every SQL execution.
  */
final class Trace {
  @volatile var on: Boolean = false
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()

  /** Epoch milliseconds with sub-millisecond precision, on the same clock
    * as the listener's event times. */
  def nowMs: Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  private val spans = mutable.ArrayBuffer[Map[String, Any]]()

  def span[T](layer: String, name: String, op: String)(f: => T): T =
    if (!on) f
    else {
      val start = nowMs
      try f
      finally {
        val end = nowMs
        spans.synchronized {
          spans += Map("layer" -> layer, "name" -> name, "op" -> op,
            "start" -> start, "end" -> end)
        }
      }
    }

  val counters = new Counters

  def json: Map[String, Any] = Map(
    "spans" -> spans.synchronized(spans.toList),
    "jobs" -> counters.jobs.values.asScala.toList.map(_.json),
    "stages" -> counters.stages.values.asScala.toList.map(_.json),
    "lineage_executions" -> counters.lineageScans.asScala.toList.map(_.toString),
    "plans" -> counters.plans.asScala.toMap.map { case (k, v) => k.toString -> v })
}

object Trace {
  val OpKey = "perfbench.op"
}

final class StageRec(val id: Int) {
  var submit = 0L; var complete = 0L; var tasks = 0
  var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var peakMem = 0L; var inBytes = 0L; var inRecords = 0L
  def json: Map[String, Any] = Map("id" -> id, "submit" -> submit,
    "complete" -> complete, "tasks" -> tasks,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "shuffle_bytes" ->
      (shuffleRead + shuffleWrite), "spill_bytes" -> spill,
    "peak_mem" -> peakMem, "input_bytes" -> inBytes,
    "input_records" -> inRecords)
}

final class JobRec(val id: Int, val start: Long, val op: String,
                   val execution: String, val stageIds: Seq[Int]) {
  def json: Map[String, Any] = Map("id" -> id, "start" -> start,
    "op" -> op, "execution" -> execution, "stages" -> stageIds)
}

final class Counters extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  /** SQL executions whose plan scans a lake's `_lineage` directory. */
  val lineageScans = ConcurrentHashMap.newKeySet[Long]()
  /** SQL execution id -> [[Plans.counts]] of its physical plan. */
  val plans = new ConcurrentHashMap[Long, Map[String, Any]]()

  private def stage(id: Int) = stages.computeIfAbsent(id, new StageRec(_))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    jobs.put(e.jobId, new JobRec(e.jobId, e.time,
      props.map(_.getProperty(Trace.OpKey)).orNull,
      props.map(_.getProperty("spark.sql.execution.id")).orNull, e.stageIds))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("_lineage") =>
      lineageScans.add(s.executionId)
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      // the event carries the execution's QueryExecution, package-private
      // to Spark SQL, so it is read reflectively
      Option(end.getClass.getMethod("qe").invoke(end)).foreach { qe =>
        plans.put(end.executionId, Plans.counts(
          qe.asInstanceOf[org.apache.spark.sql.execution.QueryExecution].sparkPlan))
      }
    case _ =>
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized {
      s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val s = stage(e.stageId)
      s.synchronized {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
      }
    }
}

/** Bytes the local file system wrote so far (Hadoop's counters). */
object FsStats {
  def bytesWritten: Long = org.apache.hadoop.fs.FileSystem.getAllStatistics
    .asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum
}

/** Counts taken from a query's physical plan: interpreted
  * (codegen-fallback) expressions, the `plans` layer's concern, and the
  * `functions` layer's nodes: the engine's own expressions (classes of
  * `graft.functions`, e.g. the LSH signatures) and higher-order
  * functions. All repeat exactly for a given plan. */
object Plans {
  def counts(plan: org.apache.spark.sql.execution.SparkPlan): Map[String, Any] = {
    val exprs = plan.collectWithSubqueries { case p => p.expressions }.flatten
    def count(pf: PartialFunction[Any, Unit]) =
      exprs.map(_.collect { case e if pf.isDefinedAt(e) => e }.size).sum
    Map(
      "codegen_fallback_nodes" -> count {
        case _: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => },
      "engine_function_nodes" -> count {
        case e if e.getClass.getName.startsWith("graft.functions.") => },
      "hof_nodes" -> count {
        case _: org.apache.spark.sql.catalyst.expressions.HigherOrderFunction => })
  }

  def counts(df: org.apache.spark.sql.DataFrame): Map[String, Any] =
    counts(df.queryExecution.sparkPlan)
}
