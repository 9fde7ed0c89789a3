package graft.triples

import graft.kb.KbIngest
import graft.model.Dtype
import graft.text.Similarity
import graft.util.Udfs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Triple extraction + local-closed-world evaluation (SURVEY.md §2.1 S7,
 * §2.4 A10; reference /root/reference .../t2k/match/TripleGenerator.java:92-253,
 * t2k/match/data/ExtractedTriple.java:36-56, LCWA measures at
 * T2KMatch.java:672-681: GeneralisedStringJaccard(0.5,0.5) for strings,
 * PercentageSimilarity(0.05) for numerics).
 *
 * For each (final instance corr × table schema corr × web cell): emit
 * (subject = entity URI, predicate = property URI, object = cell text).
 * If the KB already has a value for (uri, prop): isNew = false and
 * lcwaCorrect = typed-similarity match against the closest KB value.
 *
 * Sink shape at scale: partitioned graph table (bucket(subjectUri) ×
 * predicate) — here a plain DataFrame the caller writes via TableIO.
 */
object Triples {

  def generate(instanceTop1: DataFrame, schemaCorrs: DataFrame,
               cells: DataFrame, kbValues: DataFrame, kbProps: DataFrame,
               webCols: DataFrame): DataFrame = {
    val webVals = cells.filter(col("kind") === "text" && col("text").isNotNull)
      .select("tableName", "rowNum", "colIdx", "text", "textNorm", "textNum", "textDate")
    val colTypes = webCols.select("tableName", "colIdx", "dtype", "yearRange")
    // the KB's own values: a surface form is not a known fact
    val kbVals = kbValues.filter(!col("viaSf")).select(col("uri"), col("propId"),
      col("value").as("kbValue"), col("valueNorm"), col("valueNum"), col("valueDate"))

    val noKbValue = col("kbValue").isNull
    val strSim = Udfs.gsjFast(col("textNorm"), col("valueNorm"))
    val numSim = Similarity.percentageSimCol(col("textNum"), col("valueNum"), 0.05)
    // Dates: WeightedDateSimilarity(1,3,5) thresholded at 0.9
    // (T2KMatch.java:676-677) — near-miss dates (same year/month, different
    // day) still count as LCWA-correct, exact equality does not.
    // The floor reads the sim twice: it is bound once as column `wds`.
    val wds = Similarity.weightedDateSimCol(col("textDate"), col("valueDate"),
      col("yearRange"))
    val dateSim = when(col("wds") >= 0.9, col("wds")).otherwise(0.0)
    val lcwaSim =
      when(noKbValue, lit(null).cast("double"))
        .when(col("dtype") === Dtype.Numeric, coalesce(numSim, lit(0.0)))
        .when(col("dtype") === Dtype.Date, coalesce(dateSim, lit(0.0)))
        .otherwise(coalesce(strSim, lit(0.0)))

    // Reference semantics (TripleGenerator.java:124-141): a table yields
    // triples only if it has a key (rdfs:label) correspondence, and ONLY
    // non-key columns become predicates — the key cell is the subject's
    // surface form, not an emitted fact.
    val keyedTables = schemaCorrs
      .filter(col("propId") === KbIngest.RdfsLabelPropId)
      .select("tableName").distinct()
    val predCorrs = schemaCorrs
      .filter(col("propId") =!= KbIngest.RdfsLabelPropId)
      .join(keyedTables, Seq("tableName"), "left_semi")
    val joined = instanceTop1
      .select(col("tableName"), col("rowNum"), col("uri"),
        col("score").as("subjectScore"))
      .join(predCorrs.select(col("tableName"), col("colIdx"), col("propId"),
        col("score").as("predicateScore")), Seq("tableName"))
      .join(webVals, Seq("tableName", "rowNum", "colIdx"))
      .join(colTypes, Seq("tableName", "colIdx"), "left") // O(#tables) dim: AQE decides
      .join(kbVals, Seq("uri", "propId"), "left")
      .withColumn("wds", wds)
      .withColumn("lcwaSim", lcwaSim)
    // Closest KB value decides LCWA correctness (multi-valued cells).
    val best = joined.withColumn("rk", row_number().over(
        Window.partitionBy(col("tableName"), col("rowNum"), col("colIdx"), col("uri"))
          .orderBy(col("lcwaSim").desc_nulls_last,
            col("kbValue").asc_nulls_last)))
      .filter(col("rk") === 1)
    best.join(broadcast(kbProps.select(col("propId"), col("propUri"))), "propId")
      .select(
        col("uri").as("subjectUri"), col("propUri").as("predicateUri"),
        col("text").as("objectValue"), col("kbValue"),
        col("kbValue").isNull.as("isNew"),
        coalesce(col("lcwaSim") > 0.0, lit(false)).as("lcwaCorrect"),
        col("tableName").as("sourceTable"), col("rowNum").as("sourceRow"),
        col("colIdx").as("sourceCol"),
        col("subjectScore"), col("predicateScore"))
  }

  /** A10 diagnostics: counts of new vs known-correct vs known-incorrect. */
  def lcwaStats(triples: DataFrame): DataFrame =
    triples.groupBy(col("isNew"), col("lcwaCorrect")).agg(count(lit(1)).as("n"))
}
