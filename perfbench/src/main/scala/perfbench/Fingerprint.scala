package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive hash of a query result: columns by name, each row
  * rendered to text, rows sorted, then SHA-256 over the lot.
  */
object Fingerprint {

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => if (f == 0.0f) "0.0" else java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  def of(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val lines = rows.map(r => order.map { case (_, i) => render(r.get(i)) }.mkString("\u0001"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(_._1).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
