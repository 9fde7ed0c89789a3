package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.security.MessageDigest

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Minimal JSON writer for the result file and the trace lines. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Order-independent output digests: the same rows in any order and any
  * partitioning give the same string. Floating-point columns are rounded
  * to 6 decimals first, so only a real change of value alters a digest. */
object Digest {
  def ofRows(rows: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.toSeq.sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    s"${rows.size}:" + md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Row count and the exact sum of per-row xxhash64 over every column,
    * computed in one aggregation, which also forces every column. */
  def ofFrame(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case _ => c
      }
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    val n = r.getLong(0)
    (n, s"$n:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}")
  }
}
