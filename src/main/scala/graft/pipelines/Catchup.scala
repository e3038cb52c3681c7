package graft.pipelines

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Airflow's scheduler clock — `schedule_interval='@daily'` +
  * `catchup=True` (`tweets_and_market.py:90-95`) — in library form: the
  * one reference behavior [[Dag]] (one graph) and [[Backfill]] (an
  * explicit date list) didn't cover is DERIVING the missed execution
  * dates and driving a dag per day until the schedule is caught up.
  *
  * The watermark table is the schedule's memory: one partition directory
  * per COMPLETED execution date (`<watermark>/date=YYYY-MM-DD/`, a
  * single-row parquet). A date is complete only when its whole dag
  * succeeded, so
  *   missed = [startDate, untilExclusive) \ completed
  * — exactly Airflow's run-materialization rule for a daily interval.
  * Completion is recorded by an idempotent per-date overwrite (no
  * read-modify-write of a shared file, so a crashed catchup never
  * corrupts the table — it just leaves the date incomplete and the next
  * catchup re-runs it; day bodies are idempotent by the warehouse's
  * per-date overwrite layout).
  *
  * Failure semantics follow the reference's `depends_on_past=False`: a
  * failed day is reported and left UNWATERMARKED (the next catchup
  * retries it) but never blocks later days. Orchestration is driver-side
  * and O(days); all per-row work stays inside the Spark jobs each day's
  * dag launches.
  */
object Catchup {

  /** One caught-up day: `ok` means the whole day dag succeeded and the
    * watermark now covers the date.
    */
  final case class DayRun(date: LocalDate, ok: Boolean, detail: Seq[Dag.Outcome])

  /** Execution dates in `[startDate, untilExclusive)` with no watermark,
    * ascending — the reference scheduler's missed-run set for a daily
    * schedule_interval.
    */
  def missedDates(
      spark: SparkSession, watermarkPath: String,
      startDate: LocalDate, untilExclusive: LocalDate): Seq[LocalDate] = {
    val done = completedDates(spark, watermarkPath)
    Iterator.iterate(startDate)(_.plusDays(1))
      .takeWhile(_.isBefore(untilExclusive))
      .filterNot(done)
      .toSeq
  }

  /** The dates the watermark marks complete. Bounded: one row per day. */
  def completedDates(spark: SparkSession, watermarkPath: String): Set[LocalDate] = {
    val base = new Path(watermarkPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Set.empty
    else fs.listStatus(base)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("date=") => LocalDate.parse(n.drop(5)) }
      .toSet
  }

  /** Record `date` complete — idempotent per-date overwrite. */
  def markComplete(spark: SparkSession, watermarkPath: String, date: LocalDate): Unit = {
    import spark.implicits._
    Seq(date.toString).toDF("execution_date")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$watermarkPath/date=$date")
  }

  /** Catch up a generic daily job: run `runDay` for every missed date in
    * order, watermarking successes. Returns one entry per date RUN (an
    * already-caught-up schedule returns Nil — re-running catchup is a
    * no-op, the spec-level idempotency claim).
    */
  def run(
      spark: SparkSession, watermarkPath: String,
      startDate: LocalDate, untilExclusive: LocalDate)(
      runDay: LocalDate => Boolean): Seq[(LocalDate, Boolean)] =
    missedDates(spark, watermarkPath, startDate, untilExclusive).map { d =>
      val ok =
        try runDay(d)
        catch { case _: Exception => false } // a thrown day = failed, later days still run
      if (ok) markComplete(spark, watermarkPath, d)
      (d, ok)
    }

  /** Catch up the reference's daily DAG: one [[TweetsAndMarketDag]] per
    * missed date, with [[Dag]]'s retry/gate semantics inside each day.
    * `marketFeed` supplies the day's (index, value) rows — the HTTP
    * scrape stays outside the library, as in `market.py:15-28`. The
    * watermark lives beside the warehouse at
    * `<outputRoot>/_catchup_watermark`.
    */
  def runTweetsAndMarket(
      spark: SparkSession,
      inputRoot: String, outputRoot: String,
      marketFeed: LocalDate => DataFrame,
      startDate: LocalDate, untilExclusive: LocalDate,
      language: String = "en",
      retries: Int = 1, minRows: Long = 1): Seq[DayRun] =
    runDags(spark, outputRoot, startDate, untilExclusive) { d =>
      val b = TweetsAndMarketDag.build(
        spark, inputRoot, outputRoot, marketFeed(d),
        d.getYear, d.getMonthValue, d.getDayOfMonth, language, retries, minRows)
      (b.tasks, b.edges)
    }

  /** Catch up a daily [[Dag]]: `buildDay` wires one missed date's
    * (tasks, edges), [[Dag.run]] runs it, and the day succeeds when every
    * task did. The watermark lives beside the warehouse at
    * `<outputRoot>/_catchup_watermark`; each run date keeps its task
    * outcomes (none when wiring the day threw).
    */
  private[pipelines] def runDags(
      spark: SparkSession, outputRoot: String,
      startDate: LocalDate, untilExclusive: LocalDate)(
      buildDay: LocalDate => (Seq[Dag.Task], Seq[(String, String)])): Seq[DayRun] = {
    var details = Map.empty[LocalDate, Seq[Dag.Outcome]]
    val ran = run(spark, s"$outputRoot/_catchup_watermark", startDate, untilExclusive) { d =>
      val (tasks, edges) = buildDay(d)
      val out = Dag.run(tasks, edges)
      details += d -> out
      out.forall(_.status == Dag.Succeeded)
    }
    ran.map { case (d, ok) => DayRun(d, ok, details.getOrElse(d, Nil)) }
  }
}
