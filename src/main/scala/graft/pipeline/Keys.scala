package graft.pipeline

import graft.kb.KbIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Subject/key-column detection (SURVEY.md §2.10; reference
 * WebTables.java:153-155 via WInte.r Table.identifySubjectColumn):
 * string column whose values look most like entity labels. Score =
 * uniqueness × (1 − digit-char fraction) — digit-heavy string columns
 * (year ranges, codes with numbers) are ids/measures, not labels — and
 * very short columns (avg length < 4: "anc", "ak" code columns) rank
 * below every normal column. Deterministic tie-break: colIdx asc.
 * Validated against the T2D gold rdfs:label correspondences
 * (gs_property.csv key rows).
 *
 * Key correspondences map each table's key column to rdfs:label
 * (reference t2k/match/rules/WebTableKeyToRdfsLabelCorrespondenceGenerator
 * .java:50-56).
 */
object Keys {

  /** webCols -> (tableName, colIdx) of the key column per table. The
    * coverage factor (non-null fraction) keeps sparse columns from
    * winning: a mostly-empty column's few non-null values are trivially
    * unique (T2D tables pad with "&nbsp;", which decodes to null). */
  def detect(webCols: DataFrame): DataFrame = {
    val score = col("uniqueness") *
      (lit(1.0) - coalesce(col("digitFrac"), lit(0.0))) *
      coalesce(col("coverage"), lit(1.0))
    val isShort = coalesce(col("avgLen"), lit(0.0)) < 4.0
    val w = Window.partitionBy(col("tableName"))
      .orderBy(isShort.asc, score.desc, col("colIdx").asc)
    webCols.filter(col("dtype") === "string")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("tableName"), col("colIdx"))
  }

  /** Key corrs: (tableName, colIdx, propId=rdfs:label, score=1.0). */
  def keyCorrs(keyCols: DataFrame): DataFrame =
    keyCols.select(col("tableName"), col("colIdx"),
      lit(KbIngest.RdfsLabelPropId).as("propId"), lit(1.0).as("score"))
}
