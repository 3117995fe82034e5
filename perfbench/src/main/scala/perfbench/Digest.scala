package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-free digest of a query result: columns in name order, each cell
  * in a canonical text form (doubles exact, as the DuckDB oracle compare
  * takes them; -0.0 folded to 0.0), rows sorted, SHA-256 over the lines.
  */
object Digest {
  private def canon(v: Any): String = v match {
    case null                 => "∅"
    case d: Double            => if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float             => canon(f.toDouble)
    case t: java.sql.Timestamp => t.toInstant.toString
    case r: Row               => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other                => other.toString
  }

  def apply(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Committed expected results: one `<query> <rows> <sha256>` line per
  * query, `#` comments allowed.
  */
final case class Ledger(entries: Map[String, (Long, String)]) {
  def check(query: String, rows: Long, digest: String): Option[String] =
    entries.get(query) match {
      case None => Some(s"$query: no ledger entry")
      case Some((n, d)) if n != rows || d != digest =>
        Some(s"$query: got $rows rows / $digest, ledger has $n rows / $d")
      case _ => None
    }
}

object Ledger {
  def read(f: File): Ledger = Ledger(Files.readAllLines(f.toPath, UTF_8).asScala
    .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    .map(_.split("\\s+")).map { case Array(q, n, d) => q -> (n.toLong, d) }.toMap)

  def write(f: File, header: String, rows: Seq[(String, Long, String)]): Unit =
    Files.write(f.toPath, (header.linesIterator.map("# " + _).toSeq ++
      rows.map { case (q, n, d) => s"$q $n $d" }).mkString("", "\n", "\n").getBytes(UTF_8))
}
