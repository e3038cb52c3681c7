package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for every record: milliseconds on the wall clock, with the
  * sub-millisecond part taken from `nanoTime`. Spark's own event times
  * (job start/end, query phases) are `currentTimeMillis`, so harness spans
  * and Spark events land on the same axis.
  */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** A span the benchmark opened around one of its own calls into the
  * library. `layer` names the module the call enters.
  */
final case class Span(
    id: Int, parent: Int, name: String, layer: String, op: Int,
    start: Double, var end: Double = Double.NaN)

/** Per-job totals, summed from task-end events of the job's stages. */
final class JobRec(val jobId: Int, val span: Int, val start: Double) {
  var end: Double = Double.NaN
  var ok: Boolean = true
  var stages: Int = 0
  var tasks: Int = 0
  var taskFailures: Int = 0
  var runMs: Long = 0
  var cpuNs: Long = 0
  var gcMs: Long = 0
  var shuffleRead: Long = 0
  var shuffleWrite: Long = 0
  var spill: Long = 0
  var inputRows: Long = 0
  var outputBytes: Long = 0
  var maxTaskMs: Long = 0
  var maxTaskRecords: Long = 0
}

/** One query execution as the QueryExecutionListener saw it. */
final case class QeRec(
    func: String, end: Double, phases: Seq[(String, Double, Double)])

/** The benchmark's tracer. Spans are kept in memory and written out with
  * the run record at the end. With `on = false` nothing is registered and
  * `span` only runs its body: the untraced passes pay no listener cost.
  *
  * Job attribution: before each call the benchmark sets the local
  * property [[SpanKey]] on the calling thread to the open span's id. Spark
  * copies local properties into every job the thread (or a SQL helper
  * thread acting for it) submits, so `onJobStart` reads its span directly.
  */
final class Tracer(spark: SparkSession) {
  val SpanKey = "graftbench.span"
  private val sc: SparkContext = spark.sparkContext

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stack = mutable.Stack.empty[Span]
  private var on = false

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, sp, e.time.toDouble)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (!e.taskInfo.successful) j.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputRows += m.inputMetrics.recordsRead
          j.outputBytes += m.outputMetrics.bytesWritten
          j.maxTaskMs = j.maxTaskMs.max(m.executorRunTime)
          j.maxTaskRecords = j.maxTaskRecords.max(
            m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe)
    private def record(func: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.sortBy(_._2.startTimeMs).map {
        case (name, p) => (name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      Tracer.this.synchronized { qes += QeRec(func, Clock.nowMs, phases) }
    }
  }

  def enable(): Unit = if (!on) {
    on = true
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  /** Deliver every posted listener event, then stop listening. */
  def disable(): Unit = if (on) {
    org.apache.spark.BenchBus.drain(sc)
    on = false
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    sc.setLocalProperty(SpanKey, null)
  }

  /** Run `body` inside a span; the op id is inherited from the parent. */
  def span[T](name: String, layer: String, op: Int = -2)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1), name, layer,
        if (op != -2) op else parent.map(_.op).getOrElse(-1), Clock.nowMs)
      spans += s
      stack.push(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = Clock.nowMs
        stack.pop()
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }
}
