package graft.kb

import graft.model.Dtype

/**
 * Pure parsing kernels for the reference's on-disk formats, used inside
 * distributed Dataset.flatMap (one task per input file — gzipped LOD dumps
 * are unsplittable, so per-file parallelism is the natural grain).
 *
 * Semantics mirrored from the reference (/root/reference):
 *  - LOD-CSV header block = 4 rows: column names, property URIs, declared
 *    XSD/unit/range types, property ranges (row 4's col 0 is owl#Thing —
 *    excluded by the data-row URI filter);
 *  - a class file participates only if column 1 is rdfs:label
 *    (KnowledgeBase.java:149-151);
 *  - duplicate property URIs collapse to the "_label" twin when present
 *    (isReferenceLabel, KnowledgeBase.java:159-175), else the LAST column
 *    wins (the reference's per-table indexTranslation map is last-write-wins,
 *    KnowledgeBase.java:192-223);
 *  - "NULL"/empty cells are nulls; "{a|b}" multi-values split downstream.
 */
object LodParse {

  /** One long-form KB cell (pre multi-value split). */
  case class LodCell(className: String, propUri: String, propHeader: String,
                     xsdType: String, uri: String, rawValue: String)

  /** RFC-4180-ish CSV content parser: quotes, doubled quotes, commas and
    * NEWLINES inside quotes, \r\n. Whole-content (not per-line) so quoted
    * multi-line values survive. */
  def parseCsv(content: String): Iterator[Array[String]] = new Iterator[Array[String]] {
    private var i = 0
    private val n = content.length
    private def skipBom(): Unit =
      if (i == 0 && n > 0 && content.charAt(0) == '\uFEFF') i = 1
    skipBom()
    override def hasNext: Boolean = i < n
    override def next(): Array[String] = {
      val out = collection.mutable.ArrayBuffer[String]()
      val sb = new StringBuilder
      var inQ = false
      var done = false
      while (!done && i < n) {
        val c = content.charAt(i)
        if (inQ) {
          if (c == '"' && i + 1 < n && content.charAt(i + 1) == '"') { sb += '"'; i += 1 }
          else if (c == '"') inQ = false
          else sb += c
        } else c match {
          case '"' => inQ = true
          case ',' => out += sb.toString; sb.clear()
          case '\r' => if (i + 1 < n && content.charAt(i + 1) == '\n') i += 1
            done = true
          case '\n' => done = true
          case _ => sb += c
        }
        i += 1
      }
      out += sb.toString
      out.toArray
    }
  }

  /** Kept column indices (1-based data columns) after the duplicate-propUri
    * collapse: the last "_label" twin per URI when one exists, else the
    * last column per URI. */
  def keepColumns(headers: Seq[String], propUris: Seq[String]): Set[Int] =
    propUris.zipWithIndex.drop(1)
      .groupBy(_._1)
      .map { case (_, cols) =>
        val labels = cols.filter { case (_, c) =>
          headers.lift(c).exists(_.endsWith("_label")) }
        (if (labels.nonEmpty) labels else cols).last._2
      }.toSet

  private val OwlThing = "http://www.w3.org/2002/07/owl#Thing"

  /** Unit type names the DBpedia dumps declare on numeric columns (the
    * reference's WInte.r unit registry resolves these; everything else
    * unknown defaults to string). */
  private val UnitTypes = Set(
    "millimetre", "centimetre", "metre", "kilometre", "squareMetre",
    "squareKilometre", "inhabitantsPerSquareKilometre", "gram", "kilogram",
    "second", "minute", "hour", "day", "kilometrePerSecond",
    "cubicMetre", "cubicMetrePerSecond", "litre")

  /** Declared type token -> engine dtype; null when unknown (caller falls
    * back to value-majority inference). */
  def xsdToDtype(t: String): String = {
    if (t == null) return null
    val local = t.substring(t.lastIndexOf('#') + 1)
    local match {
      case "Literal" | "string" | "langString" | "anyURI" | "boolean" => Dtype.String
      case "double" | "float" | "decimal" | "integer" | "int" | "long" |
           "short" | "byte" | "nonNegativeInteger" | "positiveInteger" |
           "negativeInteger" | "nonPositiveInteger" | "unsignedLong" |
           "unsignedInt" | "unsignedShort" | "unsignedByte" => Dtype.Numeric
      case "date" | "dateTime" | "time" | "gYear" | "gYearMonth" |
           "gMonthDay" | "gDay" | "gMonth" => Dtype.Date
      case u if UnitTypes(u) => Dtype.Numeric
      case _ => null
    }
  }

  /** Parse one LOD class file's content into long-form cells: its first
    * three rows are the header block, the rest go to [[tableCells]]. */
  def longForm(className: String, content: String): Iterator[LodCell] = {
    val rows = parseCsv(content).map(_.toSeq)
    def headerRow(): Seq[String] = if (rows.hasNext) rows.next() else Seq.empty
    val headers = headerRow()
    val propUris = headerRow()
    val xsdTypes = headerRow()
    tableCells(className, headers, propUris, xsdTypes, rows)
  }

  /** One LOD class table's long-form cells, from its header block and its
    * remaining rows; empty when the table does not participate (col 1 !=
    * rdfs:label). Rows whose col-0 URI is not http(s) or is owl#Thing (the
    * range row of the header block) carry no entity and are skipped. */
  def tableCells(className: String, headers: Seq[String], propUris: Seq[String],
                 xsdTypes: Seq[String], rows: Iterator[Seq[String]]): Iterator[LodCell] = {
    if (!propUris.lift(1).contains(Dtype.RdfsLabelUri)) return Iterator.empty
    val keep = keepColumns(headers, propUris).toArray.sorted
    // schema marker rows (uri = null): a property EXISTS even when every
    // value in the dump is NULL — the reference's schema comes from the
    // header block (KnowledgeBase.java:195-223), not from the data
    val schemaRows = keep.iterator.map(c => LodCell(className, propUris(c),
      headers.lift(c).orNull, xsdTypes.lift(c).orNull, null, null))
    val dataRows = rows.flatMap { r =>
      val uri = r.headOption.orNull
      if (uri == null || !uri.startsWith("http") || uri == OwlThing) Iterator.empty
      else keep.iterator.flatMap { c =>
        val v = r.lift(c).orNull
        if (v == null || v.isEmpty || v == "NULL") Iterator.empty
        else Iterator.single(LodCell(className, propUris(c),
          headers.lift(c).orNull, xsdTypes.lift(c).orNull, uri, v))
      }
    }
    schemaRows ++ dataRows
  }
}
