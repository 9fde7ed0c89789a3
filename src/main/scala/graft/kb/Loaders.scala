package graft.kb

import graft.model.{Doc, Dtype, Span}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * File-format loaders matching the reference's on-disk inputs
 * (SURVEY.md §2.1 S2-S4, S8):
 *
 *  - LOD-CSV class tables (KnowledgeBase.load, KnowledgeBase.java:122-305):
 *    4 header rows (names, property URIs, XSD types, ranges), col 0 = URI,
 *    col 1 must be rdfs:label, "{a|b}" multi-values, "NULL" nulls;
 *  - class-hierarchy TSV (loadClassHierarchy, KnowledgeBase.java:307-318);
 *  - surface forms + redirects (SurfaceForms.java:81-181);
 *  - gold-standard CSV (leftId, rightId, true/false);
 *  - web-table CSVs -> interleaved docs shape (WebTables.java:119-219).
 *
 * Header rows are tiny (4 per class file, ~hundreds of files) and read on
 * the driver; DATA rows are read distributed (data rows are identified by
 * col0 being an entity URI, so no order dependence on the CSV split).
 */
object Loaders {
  private def stripExt(name: String): String =
    name.replaceAll("\\.csv(\\.gz)?$", "")

  /** File name (no directories) from an input_file_name() URL. */
  private[kb] def fileNameOf(path: String): String = {
    val raw = path.substring(path.lastIndexOf('/') + 1)
    java.net.URLDecoder.decode(raw, "UTF-8")
  }

  /**
   * S2: directory of LOD class CSVs (optionally gzipped) -> ingested KB.
   * ONE distributed read: wholetext rows (one per file — the gz dumps are
   * unsplittable, so a file is the natural task grain) parsed by the pure
   * [[LodParse]] kernel. No driver loop, no per-file union branches in the
   * plan (the round-1 per-column union built ~1600-branch logical plans).
   */
  def loadLodCsvDir(spark: SparkSession, dir: String,
                    hierarchy: Seq[(String, String)]): KbIngest.Ingested = {
    import spark.implicits._
    val long = spark.read.option("wholetext", "true")
      .option("pathGlobFilter", "*.csv*") // stray files must not parse as tables
      .text(dir)
      .select(input_file_name().as("path"), col("value"))
      .as[(String, String)]
      .flatMap { case (path, content) =>
        LodParse.longForm(stripExt(fileNameOf(path)), content) }
      .toDF()
    // fail fast on a wrong/empty --kb path instead of silently yielding an
    // empty KB (limit(1) short-circuits after the first parsed record)
    require(long.limit(1).count() == 1,
      s"no LOD class tables parsed from '$dir' (wrong path, or no *.csv files?)")
    KbIngest.fromLongForm(spark, long, hierarchy)
  }

  /** S3: TSV class<TAB>superclass (values may be quoted). */
  def loadClassHierarchy(spark: SparkSession, path: String): Seq[(String, String)] = {
    import spark.implicits._
    spark.read.option("sep", "\t").csv(path)
      .select(regexp_replace(col("_c0"), "\"", "").as("c"),
        regexp_replace(col("_c1"), "\"", "").as("p"))
      .as[(String, String)].collect().toSeq
      .map { case (c, p) => (uriLocalName(c), uriLocalName(p)) }
  }

  /** Class names in hierarchy files are full URIs; class table names are
    * file names — normalise to the URI local name. */
  def uriLocalName(uri: String): String =
    uri.substring(uri.lastIndexOf('/') + 1)

  /** S4: surface forms "label<TAB>sf1<TAB>sf2..." plus redirects
    * "alias<TAB>target" (note the reversed direction) -> (label, surfaceForm). */
  def loadSurfaceForms(spark: SparkSession, sfPath: Option[String],
                       redirectPath: Option[String]): DataFrame = {
    val session = spark
    import session.implicits._
    val sf = sfPath.map { p =>
      spark.read.text(p).select(split(col("value"), "\t").as("f"))
        .select(col("f").getItem(0).as("label"),
          explode(expr("slice(f, 2, size(f) - 1)")).as("surfaceForm"))
    }
    val rd = redirectPath.map { p =>
      spark.read.text(p).select(split(col("value"), "\t").as("f"))
        .filter(size(col("f")) >= 2)
        .select(col("f").getItem(1).as("label"),
          col("f").getItem(0).as("surfaceForm"))
    }
    (sf.toSeq ++ rd.toSeq).reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, String)].toDF("label", "surfaceForm"))
  }

  /** S8: gold standard CSV (leftId, rightId, true/false). Case-insensitive
    * flag (the shipped gold standards mix "true" and "TRUE"); BOM-stripped
    * first field (gs_class.csv starts with one). */
  def loadGoldStandard(spark: SparkSession, path: String): DataFrame =
    spark.read.csv(path).select(
      regexp_replace(col("_c0"), "^\\uFEFF", "").as("leftId"),
      col("_c1").as("rightId"),
      coalesce(lower(col("_c2")) === "true", lit(true)).as("isPositive"))

  /**
   * Old-T2D-format gold-standard conversion (reference
   * GoldStandardConverter.java:32-99): the old format is one CSV per web
   * table (file name = table name), rows `(dbpediaUri, entityLabel)`;
   * the new format is `(<table>~Row<k>, uri, TRUE)`. The reference scans
   * every web row and links it to the first old-GS row whose
   * whitespace-stripped entity label equals the row's key-cell value.
   *
   * Spark shape: key-column detection + one equi-join on the stripped
   * label (no per-row file scans); ties (several URIs for one label)
   * break on min(uri) for determinism where the reference depended on
   * file iteration order.
   */
  def convertOldGoldStandard(spark: SparkSession, docs: DataFrame,
                             oldGsPath: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val oldGs = spark.read.option("wholetext", "true")
      .option("pathGlobFilter", "*.csv*")
      .text(oldGsPath)
      .select(input_file_name().as("path"), col("value"))
      .as[(String, String)]
      .flatMap { case (path, content) =>
        val table = fileNameOf(path)
        LodParse.parseCsv(content).collect {
          case row if row.length >= 2 && row(0) != null && row(1) != null =>
            (table, row(0), row(1).replaceAll("\\s", ""))
        }
      }.toDF("tableName", "uri", "entityStripped")
    val cols = graft.model.SpanCodec.columns(docs)
    val keyCols = graft.pipeline.Keys.detect(cols)
    val keyCells = graft.model.SpanCodec.cells(docs)
      .join(keyCols, Seq("tableName", "colIdx"))
      .filter(col("kind") === "text" && col("text").isNotNull)
      .select(col("tableName"), col("rowNum"),
        regexp_replace(col("text"), "\\s", "").as("entityStripped"))
    keyCells.join(oldGs, Seq("tableName", "entityStripped"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("tableName"), col("rowNum"))
          .orderBy(col("uri").asc)))
      .filter(col("rk") === 1)
      .select(concat(col("tableName"), lit("~Row"), col("rowNum")).as("leftId"),
        col("uri").as("rightId"), lit(true).as("isPositive"))
  }

  /**
   * S1 file surface: a directory of web-table CSVs (first row = header)
   * re-encoded as the interleaved docs table. Distributed: one wholetext
   * row per file (web tables are small; quoted newlines survive the
   * whole-content parser), data rows numbered from 0 matching the
   * reference's "<file>~Row<k>" gold-standard ids. "NULL"/empty cells
   * become null text spans (WInte.r's parsers null them at parse time).
   */
  def loadWebTablesDir(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true")
      .option("pathGlobFilter", "*.csv*") // stray files are not web tables
      .text(dir)
      .select(input_file_name().as("path"), col("value"))
      .as[(String, String)]
      .flatMap { case (path, content) =>
        val name = fileNameOf(path)
        val rows = LodParse.parseCsv(content).toVector
        if (rows.isEmpty) Nil
        else {
          val header = Doc(s"$name#h",
            rows.head.toSeq.zipWithIndex.map { case (h, i) => Span("header", h, null, i) })
          val data = rows.tail.zipWithIndex.map { case (r, k) =>
            Doc(s"$name#r$k",
              r.toSeq.zipWithIndex.map { case (v, i) =>
                // HTML entities survive in crawled cells ("&nbsp;31056997"
                // broke numeric typing on T2D); decode the common ones +
                // trim, like WInte.r's web-table string normalisation.
                // "&amp;" decodes LAST: doubly-escaped input ("&amp;lt;")
                // must yield "&lt;", not "<" (double-unescaping).
                val cleaned =
                  if (v == null) null
                  else v.replace("&nbsp;", " ")
                    .replace("&lt;", "<").replace("&gt;", ">")
                    .replace("&quot;", "\"").replace("&#39;", "'")
                    .replace("&amp;", "&").trim
                val t = if (cleaned == null || cleaned.isEmpty ||
                  cleaned.equalsIgnoreCase("null")) null else cleaned
                Span("text", t, null, i)
              })
          }
          header +: data
        }
      }
      .toDF()
  }
}
