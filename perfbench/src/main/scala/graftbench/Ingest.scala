package graftbench

import java.io.{File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.sql.DriverManager
import java.time.LocalDate
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import graft.operators.Multimodal
import graft.pipelines.{Catchup, CorpusPipeline, Dag, LlmIngestDag}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The daily batch: `LlmIngestDag` driven by `Catchup`, with the ANN leg
  * (embeddings keyed by `vec_id` as `doc_id`), the media leg
  * (`Multimodal.imagePhash`) and an in-memory Derby warehouse for the
  * published counts. An operation is one execution date.
  *
  * All dates share one output root, as the daily batch does. Set-up runs
  * the first date, which builds every index (and warms the JVM); each
  * timed pass then catches up the next date, which appends to those
  * indexes (a date takes about 11 s on 4 cores, so one per pass keeps
  * runs inside the benchmark's time budget). After each pass an untimed check verifies the
  * warehouse as a whole.
  *
  * The per-day body is `LlmIngestDag.catchup`'s own (build the day's DAG,
  * `Dag.run` it, succeed only if every task succeeded), written out here
  * so the benchmark can time each task's `run` and `gate`. With
  * `catchupParity` the last check also catches up the same dates with
  * `LlmIngestDag.catchup` itself and fails unless the two agree, so the
  * copy cannot drift from the library unnoticed (the smoke test runs it).
  */
final class IngestWorkload(
    spark: SparkSession, dataDir: String, workDir: String, seed: Long,
    catchupParity: Boolean = false)
    extends Workload {
  import spark.implicits._

  val Start: LocalDate = LocalDate.parse("2021-03-01")
  def nominalPassS: Double = 10.5
  private val DaysPerPass = 1
  private val inputRoot = s"$workDir/ingest/in"
  private val out = s"$workDir/ingest/out"
  private val Db = "graftbench"
  private var dates: IndexedSeq[LocalDate] = IndexedSeq.empty
  private var passes = 0
  private def passDates(pass: Int) = dates.slice(1 + pass * DaysPerPass, 1 + (pass + 1) * DaysPerPass)

  /** Most documents survive: the corpus is one language with documents of
    * 10 to 100 tokens, so mainly duplicates drop. The survivor share is
    * recorded with every pass.
    */
  val Cfg = CorpusPipeline.Config(
    minTokens = 5, maxTopWordFrac = 0.5, samplePerSource = 1000000, dropPplTail = false)

  /** Which module each task calls, for its span's layer. */
  private def layerOf(task: String): String = task match {
    case "ingest_raw" | "publish_counts" => "sources"
    case t if t.startsWith("compact_") => "sources"
    case "cross_day_neardup" | "grow_media_index" => "streaming"
    case "grow_ann_index" => "operators"
    case _ => "pipelines"
  }

  private lazy val embeddings = spark.read.parquet(s"$dataDir/ingest/embeddings.parquet")
    .select(col("vec_id").as("doc_id"), col("embedding"))
  private lazy val embIds: Set[Long] = embeddings.select("doc_id").as[Long].collect().toSet

  // what the input builder injected, per date
  private val docsPerDay = mutable.LinkedHashMap.empty[LocalDate, Int]
  private val repeatsPerDay = mutable.LinkedHashMap.empty[Int, Int]
  private val corruptPerDay = mutable.LinkedHashMap.empty[LocalDate, Int]
  private val bytesPerDay = mutable.LinkedHashMap.empty[LocalDate, Long]
  private val failures = mutable.LinkedHashMap.empty[String, String]
  private val outcomes = mutable.LinkedHashMap.empty[LocalDate, Seq[Dag.Outcome]]

  /** Seeded input builder: assigns every document to a day, injects
    * cross-day repeats (a later day re-sends an earlier document's text
    * under a new id) and a few unparseable lines, and writes each day as
    * two gzipped JSONL files under `{y}/{m}/{d}/`.
    */
  override def prepare(passes: Int): Unit = {
    // the documents spread over a fixed calendar, so a date holds the same
    // volume however many dates a run uses
    this.passes = passes
    val days = (1 + passes * DaysPerPass).max(CalendarDays)
    dates = (0 until 1 + passes * DaysPerPass).map(i => Start.plusDays(i.toLong))
    val rnd = new scala.util.Random(seed)
    val docs = spark.read.parquet(s"$dataDir/ingest/documents.parquet")
      .select("doc_id", "text", "source").orderBy("doc_id")
      .as[(Long, String, String)].collect()
    val perDay = Array.fill(days)(mutable.ArrayBuffer.empty[String])
    docs.foreach { case (id, text, src) =>
      val d = rnd.nextInt(days)
      perDay(d) += line(id, text, src)
      if (d < days - 1 && rnd.nextDouble() < 0.04) {
        val later = d + 1 + rnd.nextInt(days - 1 - d)
        perDay(later) += line(id + RepeatIdOffset, text, src)
        repeatsPerDay(later) = repeatsPerDay.getOrElse(later, 0) + 1
      }
    }
    dates.indices.foreach { d =>
      val date = dates(d)
      val corrupt = rnd.nextInt(3)
      val lines = rnd.shuffle(perDay(d).toSeq ++
        (0 until corrupt).map(i => s"""{"doc_id": ${d * 10 + i}, "text": "truncated"""))
      docsPerDay(date) = perDay(d).size
      corruptPerDay(date) = corrupt
      val dir = new File(f"$inputRoot/${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d")
      dir.mkdirs()
      lines.grouped((lines.size + 1) / 2).zipWithIndex.foreach { case (part, i) =>
        val f = new File(dir, s"part-$i.jsonl.gz")
        val w = new OutputStreamWriter(new GZIPOutputStream(new FileOutputStream(f)),
          StandardCharsets.UTF_8)
        try part.foreach(l => w.write(l + "\n")) finally w.close()
        bytesPerDay(date) = bytesPerDay.getOrElse(date, 0L) + f.length()
      }
    }
  }

  val RepeatIdOffset = 1000000L
  val CalendarDays = 12

  private def line(id: Long, text: String, src: String): String =
    s"""{"doc_id": $id, "text": ${jsonString(text)}, "source": ${jsonString(src)}}"""

  private def jsonString(s: String): String =
    if (s == null) "null"
    else {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      (sb += '"').toString
    }

  /** Catch up the dates `ds`; `onDay` sees each date's op id, start,
    * end and task outcomes.
    */
  private def catchup(ds: Seq[LocalDate], tracer: Tracer, nextOp: () => Int)(
      onDay: (LocalDate, Int, Double, Double, Seq[Dag.Outcome]) => Unit): Unit = {
    val url = s"jdbc:derby:memory:$Db;create=true"
    val connect = () => DriverManager.getConnection(url)
    Catchup.run(spark, s"$out/_catchup_watermark", ds.head, ds.last.plusDays(1)) { d =>
      val op = nextOp()
      val t0 = Clock.nowMs
      val os = tracer.span(d.toString, "bench", op) {
        val b = tracer.span("build", "pipelines") {
          LlmIngestDag.build(spark, inputRoot, out, d, connect, Cfg,
            embeddingsFor = Some(_ => embeddings),
            mediaFingerprint = Some(Multimodal.imagePhash))
        }
        val tasks = b.tasks.map { t =>
          val layer = layerOf(t.id)
          t.copy(
            run = () => tracer.span(s"task:${t.id}", layer) { t.run() },
            gate = () => tracer.span(s"gate:${t.id}", layer) { t.gate() })
        }
        tracer.span("run", "pipelines") { Dag.run(tasks, b.edges) }
      }
      outcomes(d) = os
      onDay(d, op, t0, Clock.nowMs, os)
      os.forall(_.status == Dag.Succeeded)
    }
    ()
  }

  def setup(): Unit = {
    val c0 = DriverManager.getConnection(s"jdbc:derby:memory:$Db;create=true")
    try LlmIngestDag.ensureCountsTable(c0) finally c0.close()
    catchup(dates.take(1), new Tracer(spark), () => -1)((_, _, _, _, _) => ())
    check().foreach { case (k, v) => failures(s"setup.$k") = v }
  }

  def runPass(rec: PassRec, tracer: Tracer, nextOp: () => Int): Unit =
    catchup(passDates(rec.idx), tracer, nextOp) { (d, op, t0, t1, os) =>
      val bad = os.filter(_.status != Dag.Succeeded)
      val err = if (bad.isEmpty) null
        else bad.map(b => s"${b.id} ${b.status} ${b.error.getOrElse("")}").mkString("; ")
      rec.ops += OpRec(op, d.toString, t0, t1, bad.isEmpty, err)
      rec.extra(s"tasks.$d") = os.map(o => o.id -> Map(
        "status" -> o.status.toString, "attempts" -> o.attempts)).toMap
    }

  override def afterPass(rec: PassRec): Unit = {
    val problems = check() ++
      (if (catchupParity && rec.idx == passes - 1) parity() else Map.empty)
    rec.extra("check") = if (problems.isEmpty) Map("all" -> "ok") else problems
    if (problems.nonEmpty) {
      problems.foreach { case (k, v) => failures(s"pass${rec.idx}.$k") = v }
      val msg = problems.keys.mkString("invariants failed: ", ", ", "")
      rec.ops.mapInPlace(o => o.copy(ok = false, error = Option(o.error).getOrElse(msg)))
    }
    val areas = Seq("raw", "clean_daily", "corpus", "neardup_index", "ann_index", "media_index")
    val sizes = areas.map(a => a -> du(new File(s"$out/warehouse/$a"))).toMap
    rec.extra("stored_bytes") = sizes.map { case (a, (b, _)) => a -> b }
    rec.extra("files") = sizes.map { case (a, (_, n)) => a -> n }
    rec.extra("input_bytes") = outcomes.keysIterator.map(bytesPerDay).sum
    rec.extra("survivors") = lastCheck._1
    rec.extra("input_docs") = lastCheck._2
    rec.extra("quarantined_rows") = lastCheck._3
  }

  /** (bytes, files) under a directory. */
  private def du(f: File): (Long, Long) =
    if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Seed-independent invariants of the warehouse after every date run
    * so far. Returns the failed ones with what was seen.
    */
  private def check(): Map[String, String] = {
    val bad = mutable.LinkedHashMap.empty[String, String]
    def expect(name: String, ok: Boolean, detail: => String): Unit =
      if (!ok) bad(name) = detail
    val ds = outcomes.keys.toSeq

    val notOk = outcomes.toSeq.flatMap { case (d, os) =>
      os.filter(_.status != Dag.Succeeded).map(o => s"$d ${o.id} ${o.status}") }
    expect("every_task_succeeded", notOk.isEmpty, notOk.mkString("; "))

    val wh = s"$out/warehouse"
    val survivors = spark.read.parquet(s"$wh/corpus")
      .select(col("doc_id"), col("source"), col("batch")).as[(Long, String, Long)].collect()
    val ids = survivors.map(_._1).sorted.toSeq
    expect("survivor_ids_unique", ids.distinct.size == ids.size, s"${ids.size} rows")

    def indexIds(path: String) = spark.read.parquet(path).select("id").as[Long].collect().sorted.toSeq
    val nd = indexIds(s"$wh/neardup_index/shingles")
    expect("neardup_index_ids_equal_survivors", nd == ids,
      s"index ${nd.size} ids (${nd.distinct.size} distinct), survivors ${ids.size}")
    val ann = indexIds(s"$wh/ann_index")
    val annWant = ids.filter(embIds)
    expect("ann_index_ids_equal_embedded_survivors", ann == annWant,
      s"index ${ann.size} ids (${ann.distinct.size} distinct), want ${annWant.size}")
    val media = indexIds(s"$wh/media_index/keys").distinct
    expect("media_index_ids_equal_survivors", media == ids,
      s"index ${media.size} distinct ids, survivors ${ids.size}")

    val want = survivors.groupBy { case (_, s, b) => (LocalDate.ofEpochDay(b).toString, s) }
      .map { case (k, v) => k -> v.length.toLong }
    val conn = DriverManager.getConnection(s"jdbc:derby:memory:$Db")
    val got = try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT "execution_date", "source", "n_docs" FROM ${LlmIngestDag.CountsTable}""")
      val b = mutable.Map.empty[(String, String), Long]
      while (rs.next()) b((rs.getString(1), rs.getString(2))) = rs.getLong(3)
      b.toMap
    } finally conn.close()
    expect("published_counts_equal_survivors", got == want,
      s"published ${got.size} (date, source) rows, survivors give ${want.size}")

    val quarantined = ds.map { d =>
      val q = new File(s"$out/quarantine/$d")
      if (q.exists()) spark.read.text(q.getPath).count() else 0L
    }.sum
    val injected = ds.map(d => corruptPerDay(d).toLong).sum
    expect("quarantine_rows_equal_corrupt_lines", quarantined == injected,
      s"quarantined $quarantined, injected $injected")

    lastCheck = (ids.size.toLong, ds.map(docsPerDay).sum.toLong, quarantined)
    bad.toMap
  }

  /** Catches up every date run so far again, on a fresh output root and
    * warehouse, with `LlmIngestDag.catchup` itself. Returns a failure
    * unless it ran the same dates with the same task outcomes and kept the
    * same survivors as the benchmark's own catch-up.
    */
  private def parity(): Map[String, String] = {
    val url = s"jdbc:derby:memory:${Db}_parity;create=true"
    val c0 = DriverManager.getConnection(url)
    try LlmIngestDag.ensureCountsTable(c0) finally c0.close()
    val parityOut = s"$workDir/ingest/parity"
    val ds = outcomes.keys.toSeq
    val lib = LlmIngestDag.catchup(spark, inputRoot, parityOut,
      () => DriverManager.getConnection(url), ds.head, ds.last.plusDays(1), Cfg,
      embeddingsFor = Some(_ => embeddings), mediaFingerprint = Some(Multimodal.imagePhash))
    def view(d: LocalDate, ok: Boolean, os: Seq[Dag.Outcome]) =
      s"$d ${if (ok) "ok" else "failed"} " + os.map(o => s"${o.id}:${o.status}x${o.attempts}").mkString(",")
    val got = lib.map(r => view(r.date, r.ok, r.detail))
    val want = outcomes.toSeq.map { case (d, os) => view(d, os.forall(_.status == Dag.Succeeded), os) }
    def survivors(root: String) =
      spark.read.parquet(s"$root/warehouse/corpus").select("doc_id").as[Long].collect().sorted.toSeq
    val (libIds, benchIds) = (survivors(parityOut), survivors(out))
    val same = got == want && libIds == benchIds
    parityResult = if (same) "same"
      else s"LlmIngestDag.catchup: ${libIds.size} survivors, ${got.mkString("; ")}; " +
        s"benchmark: ${benchIds.size} survivors, ${want.mkString("; ")}"
    if (same) Map.empty else Map("catchup_parity" -> parityResult)
  }
  private var parityResult = "not run"

  // (survivors, input documents, quarantined rows) at the last check
  private var lastCheck = (0L, 0L, 0L)

  def badOutputs: Set[String] = Set.empty

  def facts: Map[String, Any] = Map(
    "dates" -> dates.map(_.toString),
    "input_bytes" -> bytesPerDay.values.sum,
    "docs_per_day" -> docsPerDay.map { case (d, n) => d.toString -> n }.toMap,
    "repeats_injected" -> repeatsPerDay.collect { case (d, n) if d < dates.size => n }.sum,
    "corrupt_lines" -> corruptPerDay.values.sum,
    "survivors" -> lastCheck._1, "input_docs" -> lastCheck._2,
    "quarantined_rows" -> lastCheck._3,
    "survivor_frac" -> lastCheck._1.toDouble / lastCheck._2.max(1),
    "check_failures" -> failures.toMap,
    "catchup_parity" -> parityResult,
    "config" -> Cfg.copy(interleaveBp = Nil).toString)
}
