package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Encode/decode between web tables and the interleaved documents table
 * (BASELINE.json input_hint shape). Reference behaviour being re-expressed:
 * WebTables.load (/root/reference .../t2k/match/data/WebTables.java:119-219)
 * — per-table parse, per-column type inference, numeric stats (kurtosis),
 * date min/max, id assignment.
 *
 * Invariant (tested): encode->decode->encode preserves span-sequence
 * equality (kind, text, media_ref, order) per doc.
 *
 * All decode paths are DataFrame transforms (posexplode + groupBy aggs) so
 * they scale: no driver-side iteration over tables.
 */
object SpanCodec {

  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType)))
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("spans", ArrayType(spanType))))

  /** docs -> one row per span, with tableName / rowNum / header flag parsed
    * from doc_id ("{table}#h" | "{table}#r{k}"). */
  def explodeSpans(docs: DataFrame): DataFrame = {
    docs
      .withColumn("tableName", substring_index(col("doc_id"), "#", 1))
      .withColumn("tail", substring_index(col("doc_id"), "#", -1))
      .withColumn("isHeader", col("tail") === "h")
      .withColumn("rowNum", when(col("isHeader"), lit(-1))
        .otherwise(regexp_replace(col("tail"), "^r", "").cast(IntegerType)))
      .select(col("tableName"), col("rowNum"), col("isHeader"),
        posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("tableName"), col("rowNum"), col("isHeader"),
        col("span.kind").as("kind"), col("span.text").as("text"),
        col("span.media_ref").as("mediaRef"), col("span.offset").as("colIdx"))
  }

  /** Data cells only (text + media rows; header docs excluded), each with
    * its text's operands, typed once here ([[graft.util.Udfs.operands]]). */
  def cells(docs: DataFrame): DataFrame =
    explodeSpans(docs).filter(!col("isHeader")).drop("isHeader")
      .select(col("*") +: graft.util.Udfs.operands("text"): _*)

  /** Header cells: (tableName, colIdx, header). */
  def headers(docs: DataFrame): DataFrame =
    explodeSpans(docs).filter(col("isHeader"))
      .select(col("tableName"), col("colIdx"), col("text").as("header"))

  private val datePat = graft.util.SafeCast.datePat
  // web cells use the tolerant pattern (comma groups, unit suffixes) —
  // the KB side keeps the strict one (dump values are clean)
  private val numPat = graft.util.SafeCast.webNumPat

  /** Per-column type inference + stats, one distributed aggregation.
    * Majority vote over non-null text cells: date if >50% match ISO date,
    * else numeric if >50% parse as number, else string. Media columns get
    * dtype 'media'. Uniqueness feeds key detection (SURVEY.md §2.10).
    * `yearRange` is the column's year span, 1.0 for a column without
    * dates: the date comparator's range
    * (MatchableTableRowDateComparator.java:68-71). */
  def columns(docs: DataFrame): DataFrame = {
    val c = cells(docs)
    val typed = c.filter(col("kind") =!= "header")
      .withColumn("isMedia", col("kind") === "media")
      .withColumn("isDate", col("text").rlike(datePat))
      .withColumn("isNum", !col("isDate") && col("text").rlike(numPat))
    val dateYear = when(col("isDate"), year(col("textDate")))
    val agg = typed.groupBy(col("tableName"), col("colIdx")).agg(
      count(when(col("text").isNotNull, 1)).as("nText"),
      count(when(col("isMedia"), 1)).as("nMedia"),
      count(lit(1)).as("nAll"),
      count(when(col("isDate"), 1)).as("nDate"),
      count(when(col("isNum"), 1)).as("nNum"),
      kurtosis(col("textNum")).as("kurtosis"),
      coalesce((max(dateYear) - min(dateYear)).cast(DoubleType), lit(1.0))
        .as("yearRange"),
      (countDistinct(col("text")).cast(DoubleType) /
        greatest(count(col("text")), lit(1)).cast(DoubleType)).as("uniqueness"),
      (count(col("text")).cast(DoubleType) /
        greatest(count(lit(1)), lit(1)).cast(DoubleType)).as("coverage"),
      avg(length(col("text"))).as("avgLen"),
      avg(when(col("text").isNotNull && length(col("text")) > 0,
        length(regexp_replace(col("text"), "[^0-9]", "")).cast(DoubleType) /
          length(col("text")))).as("digitFrac"))
    val withType = agg.withColumn("dtype",
      when(col("nMedia") * 2 > col("nAll"), lit("media"))
        .when(col("nDate") * 2 > col("nText"), lit(Dtype.Date))
        .when(col("nNum") * 2 > col("nText"), lit(Dtype.Numeric))
        .otherwise(lit(Dtype.String)))
    withType.join(headers(docs), Seq("tableName", "colIdx"), "left")
      .select(col("tableName"), col("colIdx"), col("header"), col("dtype"),
        col("kurtosis"), col("yearRange"), col("uniqueness"),
        col("coverage"), col("avgLen"), col("digitFrac"))
  }

  /** Re-encode cells back into the docs shape (for round-trip testing and
    * checkpoint materialisation). Spans sorted by original offset. */
  def encode(cells: DataFrame, headers: DataFrame): DataFrame = {
    val rowDocs = cells
      .groupBy(col("tableName"), col("rowNum"))
      .agg(sort_array(collect_list(struct(
        col("colIdx").as("_o"),
        struct(col("kind"), col("text"), col("mediaRef").as("media_ref"),
          col("colIdx").as("offset")).as("s")))).as("sorted"))
      .select(concat(col("tableName"), lit("#r"), col("rowNum")).as("doc_id"),
        col("sorted._o"), col("sorted.s").as("spans"))
      .select(col("doc_id"), col("spans"))
    val headerDocs = headers
      .groupBy(col("tableName"))
      .agg(sort_array(collect_list(struct(col("colIdx").as("_o"), struct(
        lit("header").as("kind"), col("header").as("text"),
        lit(null).cast(StringType).as("media_ref"),
        col("colIdx").as("offset")).as("s")))).as("sorted"))
      .select(concat(col("tableName"), lit("#h")).as("doc_id"),
        col("sorted.s").as("spans"))
    rowDocs.unionByName(headerDocs)
  }
}
