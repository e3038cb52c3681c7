package graft

import scala.collection.mutable

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The dev profiling entry point: explains each registered query's run
  * layer by layer, without a Spark UI. Per (dir, query): one untimed rep
  * (it pays session-scoped build-once artifacts), then `reps` timed noop
  * writes, each after [[Bench.settle]]. For the fastest rep it prints one
  * JSON line of [[Report.json]] — wall time, jobs/stages/tasks, executor
  * time, time outside jobs, shuffle volume, the slowest task and the
  * executed plan's [[Report.planCounts]] — then the top jobs (named by the
  * action that started them), the top stages and the top operators by
  * `numOutputRows`; `--plan` appends the formatted executed plan.
  *
  * `shufRecords` (total shuffle-read records) is the dedup family's
  * candidate-volume proxy — linear growth in corpus size is the claim
  * under test — and `maxTaskRecords` (the largest task's shuffle read)
  * its skew detector: a quadratic hot bucket shows up there long before
  * total volume moves. Usage:
  *
  *   tools/runjava.sh graft.Profile <q1,q2,...|all> [dir1,dir2,...] [reps] [--plan]
  */
object Profile {

  private val top = 10

  /** Task-metric totals of a set of tasks — one rep, one job or one
    * stage — and the wall window they ran in.
    */
  final class Tally(val name: String, val start: Long) {
    var end: Long = start
    var tasks, runMs, cpuNs, gcMs, shufReadBytes, shufWriteBytes, shufRecords,
      shufWriteRecords, maxTaskRecords, maxTaskMs, inputRecords = 0L
    def add(m: TaskMetrics): Unit = {
      val r = m.shuffleReadMetrics.recordsRead
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shufReadBytes += m.shuffleReadMetrics.totalBytesRead
      shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shufRecords += r
      shufWriteRecords += m.shuffleWriteMetrics.recordsWritten
      maxTaskRecords = maxTaskRecords.max(r)
      maxTaskMs = maxTaskMs.max(m.executorRunTime)
      inputRecords += m.inputMetrics.recordsRead
    }
  }

  /** The listener of one rep: a tally for the rep, each job and each
    * stage, and the query execution of the rep's noop write.
    */
  final class Ledger extends SparkListener with QueryExecutionListener {
    val total = new Tally("", 0)
    val jobs = mutable.LinkedHashMap.empty[Int, Tally]
    val stages = mutable.LinkedHashMap.empty[Int, Tally]
    private val stageJob = mutable.HashMap.empty[Int, Tally]
    private val executions = mutable.HashMap.empty[Long, String]
    /** The last query execution to finish: the rep's noop write. The
      * write plans `df` afresh, so only its execution holds the final
      * adaptive plan and the operator metrics.
      */
    @volatile var written: Option[QueryExecution] = None

    private def firstLine(s: String) = s.takeWhile(_ != '\n').take(80)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { executions(s.executionId) = firstLine(s.description) }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // a job of a SQL execution (AQE runs each query stage as a job from a
      // pool thread) is named by the action that started the execution,
      // any other job by its result stage's callsite
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executions.get(id.toLong))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(s => firstLine(s.name)))
      val j = new Tally(site, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val si = e.stageInfo
      stages(si.stageId) = new Tally(stageJob.get(si.stageId).fold(firstLine(si.name))(_.name),
        si.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      for (s <- stages.get(si.stageId); t <- si.completionTime) s.end = t
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null)
        (Seq(total) ++ stageJob.get(e.stageId) ++ stages.get(e.stageId)).foreach(_.add(e.taskMetrics))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      written = Some(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Milliseconds of [t0, t1] during which no job of this ledger ran. */
    def outsideJobsMs(t0: Long, t1: Long): Long = synchronized {
      var covered = 0L
      var cur = t0
      jobs.values.toSeq.map(j => (j.start.max(t0), j.end.min(t1))).sortBy(_._1).foreach {
        case (s, e) => if (e > cur) { covered += e - s.max(cur); cur = e }
      }
      t1 - t0 - covered
    }
  }

  /** One timed rep: its wall time and its ledger. */
  final case class Run(sec: Double, outsideJobsS: Double, ledger: Ledger) {
    def qe: QueryExecution = ledger.written.getOrElse(
      sys.error("the noop write's query execution never reached the listener"))
  }

  /** Every operator of an executed plan: AQE's final plan and query
    * stages are unwrapped and subqueries walked, so the count covers what
    * actually ran.
    */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case _ => (p.children ++ p.subqueries).flatMap(operators)
  })

  final case class Report(query: String, dir: String, runs: Seq[Run]) {
    val best: Run = runs.minBy(_.sec)
    lazy val ops: Seq[SparkPlan] = operators(best.qe.executedPlan)

    private def count(pf: PartialFunction[SparkPlan, Unit]): Int = ops.count(pf.isDefinedAt)
    /** Operators that matter at scale: repeated source scans (a duplicated
      * subtree), exchanges, sorts, aggregate fallbacks, nested-loop joins,
      * and windows with no partition spec (their whole input moves
      * through one task).
      */
    lazy val planCounts: Seq[(String, Int)] = Seq(
      "fileScans" -> count { case _: FileSourceScanExec => },
      "reusedExchanges" -> count { case _: ReusedExchangeExec => },
      "shuffleExchanges" -> count { case _: ShuffleExchangeExec => },
      "sorts" -> count { case _: SortExec => },
      "sortAggs" -> count { case _: SortAggregateExec => },
      "objectHashAggs" -> count { case _: ObjectHashAggregateExec => },
      "nestedLoopJoins" -> count { case _: BroadcastNestedLoopJoinExec => },
      "unpartitionedWindows" -> count { case w: WindowExec if w.partitionSpec.isEmpty => })

    def json: String = {
      val l = best.ledger
      val t = l.total
      def s(x: Double) = f"$x%.2f"
      val fields = Seq(
        "sec" -> s(best.sec), "secMax" -> s(runs.map(_.sec).max),
        "jobs" -> l.jobs.size, "stages" -> l.stages.size, "tasks" -> t.tasks,
        "executorRunS" -> s(t.runMs / 1e3), "executorCpuS" -> s(t.cpuNs / 1e9),
        "gcS" -> s(t.gcMs / 1e3), "outsideJobsS" -> s(best.outsideJobsS),
        "shufReadBytes" -> t.shufReadBytes, "shufWriteBytes" -> t.shufWriteBytes,
        "shufRecords" -> t.shufRecords, "shufWriteRecords" -> t.shufWriteRecords,
        "maxTaskRecords" -> t.maxTaskRecords, "maxTaskMs" -> t.maxTaskMs,
        "inputRecords" -> t.inputRecords) ++ planCounts
      fields.map { case (k, v) => s""""$k":$v""" }
        .mkString(s"""{"query":"$query","dir":"$dir",""", ",", "}")
    }

    def lines(withPlan: Boolean): Seq[String] = {
      def ranked(kind: String, m: mutable.Map[Int, Tally], key: Tally => Long) =
        m.toSeq.sortBy(e => -key(e._2)).take(top).map { case (id, t) =>
          f"  [$kind $id%5d] wall ${(t.end - t.start) / 1e3}%6.2f s  taskRun ${t.runMs / 1e3}%7.2f s" +
            f"  tasks ${t.tasks}%5d  read ${t.shufRecords}  maxTaskRead ${t.maxTaskRecords}" +
            f"  maxTaskMs ${t.maxTaskMs}  ${t.name}"
        }
      val rows = ops.flatMap(o => o.metrics.get("numOutputRows").map(m => (m.value, o)))
        .sortBy(-_._1).take(top).map { case (n, o) =>
          f"  [rows $n%12d] ${o.simpleString(80).replaceAll("\\s+", " ").take(120)}"
        }
      Seq(json) ++ ranked("job", best.ledger.jobs, _.runMs) ++
        ranked("stage", best.ledger.stages, t => t.end - t.start) ++ rows ++
        (if (withPlan) Seq(best.qe.explainString(FormattedMode)) else Nil)
    }
  }

  /** Profile one registered query: an untimed rep, then `reps` timed noop
    * writes, each under its own [[Ledger]], which is removed from the bus
    * again before this returns.
    */
  def report(spark: SparkSession, query: String, dir: String, reps: Int): Report = {
    val fn = SparkEntry.queries(query)
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val runs = Seq.fill(reps.max(1)) {
      Bench.settle()
      val ledger = new Ledger
      spark.sparkContext.addSparkListener(ledger)
      spark.listenerManager.register(ledger)
      try {
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - n0) / 1e9
        val t1 = System.currentTimeMillis()
        // listener events drain asynchronously; give the bus a beat before
        // the ledger is read
        Thread.sleep(500)
        Run(sec, ledger.outsideJobsMs(t0, t1) / 1e3, ledger)
      } finally {
        spark.sparkContext.removeSparkListener(ledger)
        spark.listenerManager.unregister(ledger)
      }
    }
    Report(query, dir, runs)
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_ == "--plan")
    val queries =
      if (pos(0) == "all") SparkEntry.queries.keys.toSeq.sorted else pos(0).split(",").toSeq
    val dirs = pos.lift(1).fold(Seq("/root/testdata/sf0.1"))(_.split(",").toSeq)
    val reps = pos.lift(2).fold(2)(_.toInt)
    val spark = GraftSession.local()
    Bench.warmUp(spark)
    for (dir <- dirs; query <- queries) {
      try report(spark, query, dir, reps).lines(flags.nonEmpty).foreach(println)
      catch { case e: Throwable => System.err.println(s"[profile] $query @ $dir failed: $e") }
    }
    spark.stop()
  }
}
