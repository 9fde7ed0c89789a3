package graft.text

import java.util.Locale
import java.util.regex.Pattern

/**
 * Web-table string normalisation, re-expressed from the behaviour of the
 * reference's normaliser usage (see /root/reference:
 * t2k/similarity/WebJaccardStringSimilarity.java:50-51,
 * t2k/index/dbpedia/DBpediaIndexer.java:60,
 * t2k/index/dbpedia/DBPediaInstanceIndex.java:185-187,
 * t2k/match/data/SurfaceForms.java:184-187).
 *
 * Semantics: lowercase (root locale); decode common HTML escapes; strip
 * bracketed qualifiers "(...)"; map every non-alphanumeric
 * char to a space; collapse whitespace; trim; "null"/"" -> null.
 *
 * One implementation, [[normalise]]; the distributed form
 * [[normaliseCol]] is that function as a single opaque per-row kernel.
 * Evaluate-once rule: a Column operand is a tree that Catalyst copies
 * into every expression that reads it, so a regexp chain that contains
 * its own result several times, read several times by a similarity
 * expression, compiled into generated methods far above HotSpot's
 * 8,000-byte JIT limit (`DontCompileHugeMethods`) — those ran in the
 * bytecode interpreter on every row. A kernel call is one small node,
 * run once per value where it enters ([[graft.util.Udfs.operands]]);
 * [[normalise]] is idempotent, so a normalised operand is only split.
 */
object Normalize {
  private val HtmlEscapes = Seq("&nbsp;" -> " ", "&nbsp" -> " ", "&amp;" -> " ",
    "&quot;" -> " ", "&apos;" -> " ", "&#39;" -> " ")
  // precompiled: String.replaceAll compiles its regex on every call
  private val Brackets = Pattern.compile("\\(.*?\\)")
  private val NonAlnum = Pattern.compile("[^a-z0-9]+")

  /** Pure-Scala normalise; strips "(...)" qualifiers. */
  def normalise(raw: String): String = {
    if (raw == null) return null
    var s = raw.toLowerCase(Locale.ROOT)
    HtmlEscapes.foreach { case (k, v) => s = s.replace(k, v) }
    s = Brackets.matcher(s).replaceAll(" ")
    s = NonAlnum.matcher(s).replaceAll(" ").trim
    if (s.isEmpty || s == "null") null else s
  }

  /** Pure-Scala tokenise: normalise then split on whitespace. */
  def tokenise(raw: String): Array[String] = tokens(normalise(raw))

  /** The tokens of an already-normalised string (null: none). */
  def tokens(norm: String): Array[String] =
    if (norm == null) Array.empty else norm.split(" ").filter(_.nonEmpty)

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.udf

  private val normaliseUdf = udf((s: String) => normalise(s))

  /** Column form of [[normalise]] (brackets stripped): one kernel call
    * per row. */
  def normaliseCol(c: Column): Column = normaliseUdf(c)
}
