package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One timed operation of a pass: a query, or one execution date. */
final case class OpRec(
    op: Int, name: String, start: Double, end: Double, ok: Boolean, error: String)

final class PassRec(val idx: Int, val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  var start: Double = Double.NaN
  var end: Double = Double.NaN
  var heapMb: Double = Double.NaN
  /** Workload-specific facts about the pass (sizes, counts, check results). */
  val extra = mutable.LinkedHashMap.empty[String, Any]
}

/** What every workload provides to the run loop in [[Main]]. */
trait Workload {
  /** Seconds one pass takes on a 4-core machine; with `--seconds` it fixes
    * how many passes a run measures, so every run does the same work.
    */
  def nominalPassS: Double
  /** Benchmark-owned input generation for `passes` passes; not counted in
    * `setup_s`.
    */
  def prepare(passes: Int): Unit = ()
  /** Untimed warm-up and cached-artifact builds, counted in `setup_s`. It
    * also runs the correctness check where the check needs the outputs.
    */
  def setup(): Unit
  /** One timed pass: append one [[OpRec]] per operation to `rec`. */
  def runPass(rec: PassRec, tracer: Tracer, nextOp: () => Int): Unit
  /** Untimed check of a finished pass's outputs; a failed check marks the
    * pass's operations failed.
    */
  def afterPass(rec: PassRec): Unit = ()
  /** Names of operations whose output check failed. */
  def badOutputs: Set[String]
  /** Facts about the workload for the record (inputs, config). */
  def facts: Map[String, Any]
}

/** Benchmark harness entry point. One JVM runs one workload:
  *
  * {{{
  * graftbench.Main --workload etl_relational --seed 1 --seconds 10 \
  *   --trace 0 --data perfbench/data --work perfbench/.work/x \
  *   --record perfbench/.work/x/record.json
  * }}}
  *
  * A single closed-loop client runs the workload's operations back to
  * back. A run measures `round(seconds / nominalPassS)` passes, at least
  * one, and at least two with tracing: traced runs alternate untraced and
  * traced passes, so they also measure their own overhead. The raw
  * record, with every span and job, goes to `--record`;
  * `perfbench/run.py` turns it into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val dataDir = o("data")
    val workDir = o("work")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val hostStart = Host.snapshot()

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark)
    val sessionReady = Clock.nowMs

    val w: Workload = workload match {
      case "daily_ingest" =>
        new IngestWorkload(spark, dataDir, workDir, seed,
          catchupParity = o.get("catchup-parity").contains("1"))
      case "etl_relational" =>
        new QueryWorkload(spark, Queries.etlRelational, 4.5, s"$dataDir/tables", seed,
          o.get("expected"), o.get("write-expected"))
      case other => sys.error(s"unknown workload $other")
    }

    val minPasses = if (trace) 2 else 1
    val planned = math.round(seconds / w.nominalPassS).toInt.max(minPasses)
    val g0 = Clock.nowMs
    w.prepare(planned)
    val genMs = Clock.nowMs - g0
    val s0 = Clock.nowMs
    w.setup()
    val setupMs = Clock.nowMs - s0

    var opCounter = 0
    val nextOp = () => { opCounter += 1; opCounter - 1 }
    val passes = mutable.ArrayBuffer.empty[PassRec]
    while (passes.size < planned) {
      val traced = trace && passes.size % 2 == 1
      if (traced) tracer.enable() else tracer.disable()
      val rec = new PassRec(passes.size, traced)
      rec.start = Clock.nowMs
      tracer.span(s"pass${rec.idx}", "bench") { w.runPass(rec, tracer, nextOp) }
      rec.end = Clock.nowMs
      tracer.disable()
      w.afterPass(rec)
      rec.heapMb = Host.retainedHeapMb()
      passes += rec
    }
    val firstOp = passes.head.ops.headOption.map(_.start).getOrElse(passes.head.start)
    val hostEnd = Host.snapshot()

    val bad = w.badOutputs
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cpus,
      "jvm_start_ms" -> jvmStart, "input_gen_s" -> genMs / 1000,
      "setup_s" -> ((firstOp - jvmStart - genMs) / 1000),
      "session_s" -> ((sessionReady - jvmStart) / 1000),
      "warm_check_s" -> setupMs / 1000,
      "host" -> Map("start" -> hostStart, "end" -> hostEnd),
      "facts" -> w.facts,
      "bad_outputs" -> bad.toSeq.sorted,
      "passes" -> passes.map { p =>
        Map("idx" -> p.idx, "traced" -> p.traced, "start" -> p.start, "end" -> p.end,
          "heap_mb" -> p.heapMb, "extra" -> p.extra.toMap,
          "ops" -> p.ops.map(r => Map("op" -> r.op, "name" -> r.name,
            "start" -> r.start, "end" -> r.end,
            "ok" -> (r.ok && !bad(r.name)), "error" -> r.error)))
      },
      "spans" -> tracer.spans.map(s =>
        Seq(s.id, s.parent, s.name, s.layer, s.op, s.start, s.end)),
      "jobs" -> tracer.jobs.values.map(j => Map(
        "job" -> j.jobId, "span" -> j.span, "start" -> j.start, "end" -> j.end,
        "ok" -> j.ok, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_failures" -> j.taskFailures, "run_ms" -> j.runMs,
        "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs, "shuffle_read" -> j.shuffleRead,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
        "input_rows" -> j.inputRows, "output_bytes" -> j.outputBytes,
        "max_task_ms" -> j.maxTaskMs, "max_task_records" -> j.maxTaskRecords)),
      "qes" -> tracer.qes.map(q => Map("func" -> q.func, "end" -> q.end,
        "phases" -> q.phases.map { case (n, s, e) => Seq(n, s, e) })))
    java.nio.file.Files.write(java.nio.file.Paths.get(o("record")),
      Json(record).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Host facts recorded around a run, and the between-operation settle. */
object Host {
  private def read(path: String): String =
    try {
      val s = scala.io.Source.fromFile(path)
      try s.mkString.trim finally s.close()
    } catch { case _: Throwable => "" }

  /** Load average and the live `java` processes other than this one: a
    * second graft JVM on the box inflates unrelated operations.
    */
  def snapshot(): Map[String, Any] = {
    val self = ProcessHandle.current().pid()
    val javas = Option(new java.io.File("/proc").listFiles).toSeq.flatten
      .filter(f => f.getName.forall(_.isDigit) && f.getName.toLong != self)
      .filter(f => read(s"${f.getPath}/comm") == "java")
      .map(f => read(s"${f.getPath}/cmdline").replace('\u0000', ' '))
    Map(
      "loadavg" -> read("/proc/loadavg").split(" ").take(3).mkString(" "),
      "other_java" -> javas.size,
      "other_graft_java" -> javas.count(_.contains("graft")))
  }

  /** Settle between operations, outside every timer: collect the last
    * operation's garbage, then give the ContextCleaner's asynchronous
    * broadcast and shuffle removals a window to drain, so they are not
    * billed to the next operation.
    */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(SettleMs)
  }
  val SettleMs = 100L

  /** Heap used once garbage is gone. A GC only unlinks Spark's broadcast
    * and checkpoint blocks; the ContextCleaner frees them afterwards, and
    * only the next GC reclaims that memory. So collect three times, giving
    * the cleaner a settle between collections, and keep the lowest figure.
    */
  def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      settle()
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: StringBuilder, v: Any): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => write(sb, x)
    case s: String => quote(sb, s)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case n: Float => write(sb, n.toDouble)
    case n: Number => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        quote(sb, k.toString); sb += ':'; write(sb, x)
      }
      sb += '}'
    case s: Iterable[_] =>
      sb += '['
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; write(sb, x) }
      sb += ']'
    case x => quote(sb, x.toString)
  }

  private def quote(sb: StringBuilder, s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
