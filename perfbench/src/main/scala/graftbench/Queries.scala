package graftbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

object Queries {
  private def resolve(prefixes: String): Seq[String] =
    prefixes.split("\\s+").toSeq.map { p =>
      SparkEntry.queries.keys.filter(_.split('_').head == p).toSeq match {
        case Seq(name) => name
        case other => sys.error(s"query prefix $p matches ${other.mkString(", ")}")
      }
    }

  /** The `etl_relational` workload: short relational queries (joins,
    * windows, pivots, as-of and range joins) where planning and the
    * per-job floor dominate; a subset of the reference-derived surface
    * that keeps a pass at a few seconds (perfbench/README.md says why).
    */
  lazy val etlRelational: Seq[String] =
    resolve("q01 q02 q05 q08 q09 q11 q12 q15 q28 q29 q53 q96")
}

/** A query workload: every pass runs each query once, in an order drawn
  * from the seed and the pass number. An operation is the call that
  * builds the DataFrame (`build`: eager checkpoints and collects inside
  * the library run here) followed by a `noop` write (`run`: the action).
  *
  * Correctness: before the timed passes, one untimed pass collects every
  * query's result and compares its canonical digest with the expected
  * one. A second untimed pass, run like a timed one, completes the JIT
  * warm-up: on a kernel-heavy query set, the pass after a lone check
  * pass ran about 8% slower than the next one, and its spread across
  * runs was twice as wide.
  */
final class QueryWorkload(
    spark: SparkSession, queries: Seq[String], val nominalPassS: Double,
    dataDir: String, seed: Long,
    expectedPath: Option[String], writeExpected: Option[String]) extends Workload {

  private val digests = mutable.LinkedHashMap.empty[String, Canon.Digest]
  private val bad = mutable.LinkedHashMap.empty[String, String]

  private def expected: Map[String, (Long, String)] = expectedPath match {
    case None => Map.empty
    case Some(p) =>
      // one `name rows sha256` line per query
      val src = scala.io.Source.fromFile(p)
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(n, r, h) = l.split("\\s+"); n -> (r.toLong, h) }.toMap
      finally src.close()
  }

  def setup(): Unit = {
    val exp = expected
    queries.foreach { q =>
      Host.settle()
      try {
        val d = Canon.digest(SparkEntry.queries(q)(spark, dataDir))
        digests(q) = d
        if (writeExpected.isEmpty) exp.get(q) match {
          case None => bad(q) = "no expected output"
          case Some((r, h)) if r != d.rows || h != d.sha256 =>
            bad(q) = s"output mismatch: ${d.rows} rows ${d.sha256.take(12)}, " +
              s"expected $r rows ${h.take(12)}"
          case _ =>
        }
      } catch { case e: Throwable => bad(q) = s"check threw: $e" }
    }
    runPass(new PassRec(-1, false), new Tracer(spark), () => -1)
    writeExpected.foreach { p =>
      val lines = digests.toSeq.sortBy(_._1).map { case (q, d) => s"$q ${d.rows} ${d.sha256}" }
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
  }

  def runPass(rec: PassRec, tracer: Tracer, nextOp: () => Int): Unit = {
    val order = new scala.util.Random(seed * 1000003L + rec.idx).shuffle(queries)
    order.foreach { q =>
      Host.settle()
      val op = nextOp()
      val t0 = Clock.nowMs
      val err =
        try {
          tracer.span(q, "bench", op) {
            val df = tracer.span("build", "operators") { SparkEntry.queries(q)(spark, dataDir) }
            tracer.span("run", "operators") {
              df.write.format("noop").mode("overwrite").save()
            }
          }
          null
        } catch { case e: Throwable => e.toString }
      rec.ops += OpRec(op, q, t0, Clock.nowMs, err == null, err)
    }
  }

  def badOutputs: Set[String] = bad.keySet.toSet

  def facts: Map[String, Any] = Map(
    "queries" -> queries,
    "check" -> queries.map(q => q -> bad.getOrElse(q, "ok")).toMap,
    "rows" -> digests.map { case (q, d) => q -> d.rows }.toMap)
}
