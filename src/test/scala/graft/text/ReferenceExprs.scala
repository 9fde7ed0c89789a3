package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Expression-tree reference form of [[Normalize.normaliseCol]]: the
  * builtin regexp chain it replaced, kept as the parity reference in
  * NormalizeSpec. The production path uses the kernel (this chain holds
  * its own result three times, and callers copied it into every read —
  * generated methods far over the 8,000-byte JIT limit). */
object ReferenceExprs {
  private val HtmlEscapes = Seq("&nbsp;" -> " ", "&nbsp" -> " ", "&amp;" -> " ",
    "&quot;" -> " ", "&apos;" -> " ", "&#39;" -> " ")

  /** Column-expression normalise (codegen'd; mirrors [[Normalize.normalise]]). */
  def normaliseExpr(c: Column, removeBrackets: Boolean = true): Column = {
    var s = lower(c)
    HtmlEscapes.foreach { case (k, v) => s = regexp_replace(s, java.util.regex.Pattern.quote(k), v) }
    if (removeBrackets) s = regexp_replace(s, "\\(.*?\\)", " ")
    s = trim(regexp_replace(s, "[^a-z0-9]+", " "))
    when(s === "" || s === "null", lit(null)).otherwise(s)
  }
}
