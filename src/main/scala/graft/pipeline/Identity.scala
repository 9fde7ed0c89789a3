package graft.pipeline

import graft.kb.KbIngest
import graft.model.Dtype
import graft.text.Similarity
import graft.util.Udfs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Identity resolution (SURVEY.md §2.2 B3 + §2.3 R9; reference
 * /root/reference .../t2k/match/blocking/CandidateBlocking.java:43-78 and
 * t2k/match/rules/DataTypeDependentRecordMatchingRule.java:80-167).
 *
 * Row-pair score = Σ simᵢ·wᵢ / Σ wᵢ over the table's schema
 * correspondences, where wᵢ = schema-corr score, EXCEPT the key column:
 * w = 5.0 and sim = 1/3·keyComparator (the candidate's surface-form-max
 * token Jaccard, carried in `candScore`) + 2/3·string comparator
 * (DataTypeDependentRecordMatchingRule.java:158-163,
 * IdentityResolution.java:77-99).
 *
 * Non-comparable pairs — either value missing, or the typed cast fails —
 * are excluded from BOTH numerator and denominator (the reference
 * comparators return -1 and are skipped,
 * DataTypeDependentRecordMatchingRule.java:93-104); the key column always
 * participates. Comparable non-key sims below the reference's per-value
 * comparator threshold 0.4 (IdentityResolution.java:77-96) are zeroed but
 * keep their weight; strings go through GSJ(0.5, 0.5) with its inner 0.5
 * jaccard floor. Keep score >= threshold (0.1).
 *
 * Shape: one flat join (candidates × schema corrs × web cell × KB value),
 * then a single hash aggregation — no nested correspondence graphs.
 *
 * Shuffle shape: the flat join and both aggregations run on 8-byte
 * dictionary ids — tableId = xxhash64(tableName) AND uriId =
 * xxhash64(uri) (KB entity URIs are ~50-char strings; carrying them
 * through the join and two groupBys is the stage's largest payload at
 * realistic URI lengths) — with both strings re-attached to the
 * thresholded survivors through the candidates frame itself (unique per
 * (table, row, uri), so the re-attach is an equi-join on the narrow
 * key). Same collision policy as nameId/tableId (~n²/2⁶⁵).
 */
object Identity {

  private val KeyWeight = 5.0        // DataTypeDependentRecordMatchingRule
  private val Threshold = 0.1
  private val ValueThreshold = 0.4   // IdentityResolution.java:77-96

  def resolve(candidates: DataFrame, schemaCorrs: DataFrame, keyCols: DataFrame,
              cells: DataFrame, kbValues: DataFrame, webCols: DataFrame): DataFrame = {
    // keyCols/colMeta are O(#tables) dims — no forced broadcast (AQE picks).
    val corrs = schemaCorrs
      .join(keyCols.withColumn("isKey", lit(true)),
        Seq("tableName", "colIdx"), "left")
      .withColumn("isKey", coalesce(col("isKey"), lit(false)))
      .withColumn("w", when(col("isKey"), lit(KeyWeight)).otherwise(col("score")))
      .select(xxhash64(col("tableName")).as("tableId"), col("colIdx"),
        col("propId"), col("w"), col("isKey"))
    val colMeta = webCols.select(xxhash64(col("tableName")).as("tableId"), col("colIdx"),
        col("dtype"), col("yearRange"))
    val webVals = cells.filter(col("kind") === "text")
      .select(xxhash64(col("tableName")).as("tableId"), col("rowNum"),
        col("colIdx"), col("text"), col("textNorm"), col("textNum"), col("textDate"))
    // the KB's own values: surface forms are not compared here
    val kbVals = kbValues.filter(!col("viaSf"))
      .select(xxhash64(col("uri")).as("uriId"), col("propId"), col("value"),
        col("valueNorm"), col("valueNum"), col("valueDate"))

    // null = non-comparable (reference compare() == -1, skipped entirely)
    val nonComparable = col("text").isNull || col("value").isNull
    val (aNum, bNum) = (col("textNum"), col("valueNum"))
    val (aDate, bDate) = (col("textDate"), col("valueDate"))
    val nullD = lit(null).cast("double")
    val typedSim =
      when(nonComparable, nullD)
        .when(col("dtype") === Dtype.Numeric,
          when(aNum.isNotNull && bNum.isNotNull,
            Similarity.deviationSimCol(aNum, bNum)).otherwise(nullD))
        .when(col("dtype") === Dtype.Date,
          when(aDate.isNotNull && bDate.isNotNull,
            Similarity.weightedDateSimCol(aDate, bDate, col("yearRange")))
            .otherwise(nullD))
        .otherwise(Udfs.gsjFast(col("textNorm"), col("valueNorm")))

    val perCorr = candidates
      .select(xxhash64(col("tableName")).as("tableId"), col("rowNum"),
        xxhash64(col("uri")).as("uriId"), col("classId"),
        col("score").as("candScore"))
      .join(corrs, Seq("tableId"))
      .join(webVals, Seq("tableId", "rowNum", "colIdx"), "left")
      .join(kbVals, Seq("uriId", "propId"), "left")
      .join(colMeta, Seq("tableId", "colIdx"), "left")
      .withColumn("rawSim", typedSim)
      // Multi-valued KB cells: best value counts (max ignores nulls; sim0
      // stays null only when NO comparable value exists for the pair).
      .groupBy(col("tableId"), col("rowNum"), col("uriId"), col("classId"),
        col("candScore"), col("colIdx"), col("w"), col("isKey"))
      .agg(max(col("rawSim")).as("sim0"))
      // key: 1/3 key comparator + 2/3 string comparator, always counted;
      // non-key: drop non-comparable pairs, zero sims below ValueThreshold.
      .filter(col("isKey") || col("sim0").isNotNull)
      .withColumn("sim", when(col("isKey"),
          col("candScore") / 3 + coalesce(col("sim0"), lit(0.0)) * 2 / 3)
        .otherwise(when(col("sim0") >= ValueThreshold, col("sim0")).otherwise(0.0)))

    // exact decimal sums (see Schema.duplicateBased): the weighted average
    // is a pure function of the correspondence set, bit-identical under
    // any partitioning/parallelism
    val scored = perCorr
      .groupBy(col("tableId"), col("rowNum"), col("uriId"), col("classId"))
      .agg((sum((col("sim") * col("w")).cast("decimal(30,15)")).cast("double") /
        sum(col("w").cast("decimal(30,15)")).cast("double")).as("score"))
      .filter(col("score") >= Threshold)
    // re-attach the strings through the candidates frame (unique per
    // (table, row, uri) — the survivor set's own identity)
    scored.join(candidates
        .select(col("tableName"), col("rowNum"), col("uri"), col("classId"))
        .withColumn("tableId", xxhash64(col("tableName")))
        .withColumn("uriId", xxhash64(col("uri"))),
        Seq("tableId", "rowNum", "uriId", "classId"))
      .select("tableName", "rowNum", "uri", "classId", "score")
  }
}
