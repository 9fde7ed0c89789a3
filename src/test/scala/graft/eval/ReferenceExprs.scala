package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference form of [[Evaluator.evaluate]]: the three-action version it
  * replaced, kept as the parity reference in EvaluatorSpec. It caches
  * both distinct key sets and never releases them; the production form
  * counts all three figures in one aggregation with no cache. */
object ReferenceExprs {
  def evaluateCached(predicted: DataFrame, gold: DataFrame,
                     keys: Seq[String]): Evaluator.PRF = {
    val p = predicted.select(keys.map(col): _*).distinct().cache()
    val g = gold.select(keys.map(col): _*).distinct().cache()
    val tp = p.join(g, keys, "left_semi").count()
    Evaluator.PRF(tp, p.count(), g.count())
  }
}
