package graft.text

/**
 * Web-table string normalisation, re-expressed from the behaviour of the
 * reference's normaliser usage (see /root/reference:
 * t2k/similarity/WebJaccardStringSimilarity.java:50-51,
 * t2k/index/dbpedia/DBpediaIndexer.java:60,
 * t2k/index/dbpedia/DBPediaInstanceIndex.java:185-187,
 * t2k/match/data/SurfaceForms.java:184-187).
 *
 * Semantics: lowercase; decode common HTML escapes; strip bracketed
 * qualifiers "(...)" when requested; map every non-alphanumeric char to a
 * space; collapse whitespace; trim; "null"/"" -> null.
 *
 * Implemented as pure Scala (driver/kernel use) AND as Catalyst Column
 * expression chains (distributed use, whole-stage-codegen friendly —
 * lower/regexp_replace/trim/split are all codegen'd builtins, so the hot
 * path never leaves Tungsten).
 */
object Normalize {
  private val HtmlEscapes = Seq("&nbsp;" -> " ", "&nbsp" -> " ", "&amp;" -> " ",
    "&quot;" -> " ", "&apos;" -> " ", "&#39;" -> " ")

  /** Pure-Scala normalise. `removeBrackets` strips "(...)" qualifiers. */
  def normalise(raw: String, removeBrackets: Boolean = true): String = {
    if (raw == null) return null
    var s = raw.toLowerCase
    HtmlEscapes.foreach { case (k, v) => s = s.replace(k, v) }
    if (removeBrackets) s = s.replaceAll("\\(.*?\\)", " ")
    s = s.replaceAll("[^a-z0-9]+", " ").trim
    if (s.isEmpty || s == "null") null else s
  }

  /** Pure-Scala tokenise: normalise then split on whitespace. */
  def tokenise(raw: String, removeBrackets: Boolean = true): Array[String] = {
    val n = normalise(raw, removeBrackets)
    if (n == null) Array.empty else n.split(" ").filter(_.nonEmpty)
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Column-expression normalise (codegen'd; mirrors [[normalise]]). */
  def normaliseCol(c: Column, removeBrackets: Boolean = true): Column = {
    var s = lower(c)
    HtmlEscapes.foreach { case (k, v) => s = regexp_replace(s, java.util.regex.Pattern.quote(k), v) }
    if (removeBrackets) s = regexp_replace(s, "\\(.*?\\)", " ")
    s = trim(regexp_replace(s, "[^a-z0-9]+", " "))
    when(s === "" || s === "null", lit(null)).otherwise(s)
  }
}
