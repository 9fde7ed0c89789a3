package graft.onetoone

import graft.checkpoint.Materialize
import graft.eval.Evaluator
import graft.model.Dtype
import graft.text.Similarity
import graft.util.Udfs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Similarity-flooding SEED MATCHERS + sweep driver (SURVEY.md §2.9 F2/F3/F5;
 * reference /root/reference .../similarityflooding/matcher/label/
 * SFLabelBasedMatchingWB2KB.java:33-59, matcher/value/
 * SFValueBasedMatchingWB2KB.java:41-70, wb2kb/ValueTypeComparatorWB2KB
 * .java:54-101, wb2kb/ValueStringComparatorWB2KB.java:57-98, sweep
 * T2KMatch.java:469-651).
 *
 * Each matcher produces the seed matrix for one (web table, decision class)
 * pair — groupKey = "<table>|<classId>" — which [[SimilarityFlooding.run]]
 * fixpoint-iterates and 1:1-filters per group. Directions: WB2KB seeds have
 * left = web column / right = KB property; KB2WB mirrors (the flat-matrix
 * propagation itself is symmetric, so direction only swaps the 1:1 roles).
 *
 * Scale shape: seeds are one flat DataFrame (cols × props per table-pair,
 * pre-pruned by the class decision); the fixpoint runs inside mapGroups on
 * tiny matrices — thousands of independent groups parallelised across the
 * cluster, never a distributed graph.
 */
object SFMatchers {
  private def groupKey = concat(col("tableName"), lit("|"), col("classId"))

  /** F2: label-based seeds — Levenshtein similarity between the web header
    * and the KB property header (LabelComparator.java:27-31; minSim and
    * formula are applied by the SF run: 0.10, formula A). */
  def labelSeeds(webCols: DataFrame, kbProps: DataFrame,
                 kbPropsByClass: DataFrame, classesPerTable: DataFrame,
                 direction: String = "wb2kb"): DataFrame = {
    val pairs = webCols.filter(col("dtype") =!= "media")
      .select("tableName", "colIdx", "header")
      .join(classesPerTable.select("tableName", "classId"), "tableName")
      .join(kbPropsByClass.select("classId", "propId").distinct(), "classId")
      .join(kbProps.select(col("propId"), col("header").as("propHeader")), "propId")
    val sim = coalesce(
      Similarity.levenshteinSimCol(col("header"), col("propHeader")), lit(0.0))
    oriented(pairs.withColumn("score", sim), direction)
  }

  /**
   * F3 value-based seeds: per (web col, KB prop) of a table-pair, the MEAN
   * over the pair's instance correspondences of a value similarity —
   * typed mode dispatches by data type (GSJ(Levenshtein, 0.2, 0.2) for
   * strings with surface-form max, DeviationSimilarity, WeightedDate(1,3,5);
   * only same-type pairs count, ValueTypeComparatorWB2KB.java:75-92);
   * string mode compares everything with Levenshtein over surface-form
   * alternatives of either side (ValueStringComparatorWB2KB.java:57-98).
   * Both modes compare with every row of `kbValues` ([[graft.kb.KbIngest.values]]),
   * surface forms included, and orient the seeds WB2KB.
   */
  def valueSeeds(instanceCorrs: DataFrame, cells: DataFrame, kbValues: DataFrame,
                 webCols: DataFrame, typed: Boolean = true): DataFrame = {
    val corrs = instanceCorrs.select("tableName", "rowNum", "uri", "classId")
    val webVals = cells.filter(col("kind") === "text" && col("text").isNotNull)
      .select("tableName", "rowNum", "colIdx", "textNorm", "textNum", "textDate")
    val colMeta = webCols.select("tableName", "colIdx", "dtype", "yearRange")
    val kbVals = kbValues.select(col("uri"), col("propId"), col("dtype").as("kbDtype"),
      col("valueNorm"), col("valueNum"), col("valueDate"))
    val joined = corrs
      .join(webVals, Seq("tableName", "rowNum"))
      .join(colMeta, Seq("tableName", "colIdx"))
      .join(kbVals, Seq("uri"))

    val typeMismatch = col("dtype") =!= col("kbDtype")
    val (strA, strB) = (col("textNorm"), col("valueNorm"))
    val sim =
      if (typed) {
        val floor = (c: org.apache.spark.sql.Column) =>
          when(c >= 0.2, c).otherwise(0.0) // comparator threshold 0.2
        when(typeMismatch, lit(null).cast("double"))
          .when(col("dtype") === Dtype.Numeric,
            floor(coalesce(Similarity.deviationSimCol(col("textNum"),
              col("valueNum")), lit(0.0))))
          .when(col("dtype") === Dtype.Date,
            floor(coalesce(Similarity.weightedDateSimCol(col("textDate"),
              col("valueDate"), col("yearRange")), lit(0.0))))
          .otherwise(coalesce(Udfs.gsj02(strA, strB), lit(0.0)))
      } else coalesce(Similarity.levenshteinSimCol(strA, strB), lit(0.0))

    // max over a KB cell's (multi-)values + surface forms, then mean over
    // the pair's instance corrs; type-mismatched pairs (null sim) are
    // excluded from numerator and count
    val perCorr = joined.withColumn("rawSim", sim)
      .groupBy(col("tableName"), col("classId"), col("rowNum"),
        col("colIdx"), col("propId"))
      .agg(max(col("rawSim")).as("sim"))
      .filter(col("sim").isNotNull)
    val seeds = perCorr
      .groupBy(col("tableName"), col("classId"), col("colIdx"), col("propId"))
      .agg(avg(col("sim")).as("score"))
    oriented(seeds, "wb2kb")
  }

  private def oriented(seeds: DataFrame, direction: String): DataFrame =
    direction match {
      case "wb2kb" => seeds.select(groupKey.as("groupKey"),
        col("colIdx").as("left"), col("propId").as("right"), col("score"))
      case "kb2wb" => seeds.select(groupKey.as("groupKey"),
        col("propId").as("left"), col("colIdx").as("right"), col("score"))
      case other => throw new IllegalArgumentException(s"direction: $other")
    }

  /** F5: the reference's hyper-parameter sweep — SEED SOURCES × formulas ×
    * minSim grid × 1:1 filters, each configuration evaluated against a gold
    * standard of (groupKey, left, right) rows (T2KMatch.java:469-651:
    * formulas A and C, minSim {0.06..0.0}, filters {StableMarriage, TopOneK,
    * Hungarian}). The seed sources are the discriminating axis the
    * reference varies through its comparator: the full zero-padded
    * pipeline matrix, the F2 label seeds, the F3 value seeds — a sweep
    * over only near-1:1 post-combine corr EDGES collapses every config to
    * the same answer. Returns one row per (seed, formula, minSim, filter)
    * with P/R/F1. */
  def sweep(seedSources: Seq[(String, DataFrame)], gold: DataFrame,
            formulas: Seq[String] = Seq("A", "C"),
            minSims: Seq[Double] = Seq(0.06, 0.05, 0.04, 0.03, 0.02, 0.01, 0.0),
            filters: Seq[String] = Seq("stable", "greedy", "hungarian")): DataFrame = {
    val spark = seedSources.head._2.sparkSession
    import spark.implicits._
    val keys = Seq("groupKey", "left", "right")
    val rows = seedSources.flatMap { case (seedName, seeds) =>
      Materialize.scoped { scope =>
        val seedsOnce = Materialize(seeds)
        try for { f <- formulas; m <- minSims; filt <- filters } yield {
          val prf = Evaluator.evaluate(
            SimilarityFlooding.run(seedsOnce, f, m, filt).select(keys.map(col): _*),
            gold.select(keys.map(col): _*), keys)
          (seedName, f, m, filt, prf.tp, prf.predicted, prf.gold,
            prf.precision, prf.recall, prf.f1)
        } finally scope.release()
      }
    }
    rows.toDF("seed", "formula", "min_sim", "filter", "tp", "n_predicted",
      "n_gold", "prec", "rec", "f1")
  }

  /** The reference pipeline's SF input matrix: for each web table paired
    * with its FINAL decision class, EVERY (web column × class property)
    * cell — seeded with the post-combine schema-corr score where one
    * exists, 0.0 otherwise (SimilarityFloodingPipelineComparator.java:21-39
    * returns 0.0 for non-corr cells; the zero cells are what flooding
    * redistributes mass into, so dropping them collapses the sweep). */
  def pipelineMatrixSeeds(schemaCorrs: DataFrame, webCols: DataFrame,
                          kbPropsByClass: DataFrame,
                          finalClassPerTable: DataFrame): DataFrame =
    webCols.filter(col("dtype") =!= "media")
      .select("tableName", "colIdx")
      .join(finalClassPerTable.select("tableName", "classId"), "tableName")
      .join(kbPropsByClass.select("classId", "propId").distinct(), "classId")
      .join(schemaCorrs.select("tableName", "colIdx", "propId", "score"),
        Seq("tableName", "colIdx", "propId"), "left")
      .select(groupKey.as("groupKey"), col("colIdx").as("left"),
        col("propId").as("right"), coalesce(col("score"), lit(0.0)).as("score"))
}
