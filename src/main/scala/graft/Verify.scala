package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every query's result to `outDir/<name>` parquet. A query that
    * THROWS still gets a dump dir — a single `{err: "Class: message"}` row —
    * so the downstream comparer sees a red row (schema/hash mismatch vs the
    * oracle) instead of a silently missing one: in round 7 six crashed
    * queries vanished from the correctness denominator because only
    * `_meta.json` recorded them. Returns the (name → error) failures.
    */
  def dumpAll(
      spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[(String, String)] = {
    import spark.implicits._
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"); None }
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: $msg")
        try Seq(msg).toDF("err").coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name: err-row dump also failed: $e2") }
        Some(name -> msg)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg (local debugging only): run just the named queries
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession.local()
    val failures = dumpAll(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.isEmpty || only(name) })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The full expected query set + any crashes, so a checker can fail
    // queries that produced NO dump instead of silently shrinking its
    // denominator (a crashed query must count as red, not disappear).
    val meta =
      s"""{"queries": ${SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]")},
         | "failed": ${failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")}}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/_meta.json"), meta)
    spark.stop()
  }
}
