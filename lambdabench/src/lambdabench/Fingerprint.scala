package lambdabench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical._

/** Output fingerprints of materialised query results.
  *
  * A row renders to a canonical string (strings length-prefixed so no
  * separator can be forged, doubles to nine significant digits so the last
  * bits of a sum that depend on shuffle arrival order do not flap) and is
  * hashed. An ordered result hashes the row hashes in sequence; an unordered
  * one hashes them sorted, so a partition-order change is not a mismatch but
  * a changed cell always is. */
object Fingerprint {

  final case class Print(rows: Long, ordered: Boolean, digest: String)

  def cell(v: Any): String = v match {
    case null => "~"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case s: String => s"${s.length}'$s"
    case b: java.math.BigDecimal => b.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case t: java.sql.Timestamp =>
      s"ts${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}"
    case d: java.sql.Date => s"d$d"
    case d: java.time.LocalDateTime => s"ntz$d"
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.8e", Double.box(d))

  def row(r: Row): String =
    (0 until r.length).map(i => cell(r.get(i))).mkString("(", "|", ")")

  private def sha(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))

  def of(rows: Array[Row], ordered: Boolean): Print = {
    val hashes = rows.map(r => sha(row(r)))
    val seq =
      if (ordered) hashes
      else hashes.sortWith((a, b) => java.util.Arrays.compareUnsigned(a, b) < 0)
    val md = MessageDigest.getInstance("SHA-256")
    seq.foreach(md.update)
    Print(rows.length, ordered,
      md.digest().take(16).map(x => f"${x & 0xff}%02x").mkString)
  }

  /** True when the optimised plan's result order is defined by a global
    * sort: the root, under row-preserving projections and limits, is one. */
  def ordered(df: DataFrame): Boolean = {
    def walk(p: LogicalPlan): Boolean = p match {
      case s: Sort => s.global
      case p: Project => walk(p.child)
      case l: GlobalLimit => walk(l.child)
      case l: LocalLimit => walk(l.child)
      case o: Offset => walk(o.child)
      case f: Filter => walk(f.child)
      case s: SubqueryAlias => walk(s.child)
      case _ => false
    }
    walk(df.queryExecution.optimizedPlan)
  }
}
