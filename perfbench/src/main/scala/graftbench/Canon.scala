package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive canonical form of a query result, in the spirit of
  * the oracle comparison: columns sorted by name, each row rendered as
  * text in that column order, rows sorted, and the whole hashed. Results
  * are compared exactly, as the oracle check compares them.
  */
object Canon {
  final case class Digest(rows: Long, sha256: String)

  def digest(df: DataFrame): Digest = {
    val names = df.schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val header = order.map(names(_)).mkString("\u0001")
    val lines = df.collect().map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    Digest(lines.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }
}
