package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Precision/recall/F1 of a correspondence set against a gold standard
 * (reference WInte.r MatchingEvaluator usage, T2KMatch.java:1034-1114;
 * standalone EvaluateCorrespondences.java:57-100).
 * Both inputs are DataFrames sharing join key columns; the gold standard
 * holds positives only (the micro corpus has no explicit negatives).
 */
object Evaluator {
  case class PRF(tp: Long, predicted: Long, gold: Long) {
    def precision: Double = if (predicted == 0) 0.0 else tp.toDouble / predicted
    def recall: Double = if (gold == 0) 0.0 else tp.toDouble / gold
    def f1: Double = {
      val p = precision; val r = recall
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
  }

  /** One action: a full outer join of the two distinct key sets, counted
    * per side. Keys join by equality, so a row with a null key is counted
    * on its side and is never a true positive. */
  def evaluate(predicted: DataFrame, gold: DataFrame, keys: Seq[String]): PRF = {
    def side(df: DataFrame, flag: String) =
      df.select(keys.map(col): _*).distinct().withColumn(flag, lit(true))
    val r = side(predicted, "_inPredicted").join(side(gold, "_inGold"), keys, "full_outer")
      .agg(count(when(col("_inPredicted") && col("_inGold"), 1)),
        count(col("_inPredicted")), count(col("_inGold")))
      .head()
    PRF(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Per-group evaluation matrix — the per-table breakdown behind the
    * reference's evaluation.csv + row/col binary/non-binary precisions
    * (T2KMatch.java:1053-1094; the MatchingEvaluator implementation lives
    * in the unshipped WInte.r dependency, so the group-averaged semantics
    * here are our documented reading of the method names: NON-BINARY
    * precision of a group is its correct/predicted fraction, BINARY
    * precision is 1.0 only when ALL the group's predictions are correct).
    *
    * `group` derives the grouping key from the correspondence row (table
    * prefix of leftId for the per-table matrix; leftId itself for the
    * per-column variant). One distributed aggregation per side — no
    * driver loops; groups with predictions but no gold (precision defined,
    * recall null) and gold but no predictions (recall 0, precision null)
    * both appear. */
  def perGroup(predicted: DataFrame, gold: DataFrame, keys: Seq[String],
               group: org.apache.spark.sql.Column,
               groupName: String = "tableName"): DataFrame = {
    val p = predicted.select(keys.map(col): _*).distinct()
    val g = gold.select(keys.map(col): _*).distinct()
    val tp = p.join(g, keys, "left_semi")
      .groupBy(group.as(groupName)).agg(count(lit(1)).as("tp"))
    val np = p.groupBy(group.as(groupName)).agg(count(lit(1)).as("n_predicted"))
    val ng = g.groupBy(group.as(groupName)).agg(count(lit(1)).as("n_gold"))
    np.join(ng, Seq(groupName), "full_outer")
      .join(tp, Seq(groupName), "left")
      .na.fill(0L, Seq("n_predicted", "n_gold", "tp"))
      .withColumn("precision",
        when(col("n_predicted") > 0, col("tp") / col("n_predicted")))
      .withColumn("recall", when(col("n_gold") > 0, col("tp") / col("n_gold")))
      .withColumn("f1", when(col("precision") + col("recall") > 0,
        lit(2) * col("precision") * col("recall") /
          (col("precision") + col("recall"))).otherwise(
        when(col("precision").isNotNull || col("recall").isNotNull, lit(0.0))))
      .withColumn("binary_precision", when(col("n_predicted") > 0,
        (col("tp") === col("n_predicted")).cast("double")))
  }
}
