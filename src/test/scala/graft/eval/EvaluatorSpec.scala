package graft.eval

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Per-table evaluation matrix (Evaluator.perGroup — the reference's
 * evaluation.csv breakdown, T2KMatch.java:1053-1094): pins a known-bad
 * table's row exactly, plus the degenerate gold-only / prediction-only
 * groups and the group-averaged binary/non-binary precisions.
 */
class EvaluatorSpec extends SparkSpec {
  import spark.implicits._

  test("perGroup pins per-table P/R/F1 + binary precision") {
    val pred = Seq(
      ("A~Col0", "p1"), ("A~Col1", "p2"),            // all correct
      ("B~Col0", "p1"), ("B~Col1", "px"),            // the known-bad table
      ("D~Col0", "p9"))                              // prediction, no gold
      .toDF("leftId", "rightId")
    val gold = Seq(
      ("A~Col0", "p1"), ("A~Col1", "p2"),
      ("B~Col0", "p1"), ("B~Col1", "p2"), ("B~Col2", "p3"),
      ("C~Col0", "p1"))                              // gold, no prediction
      .toDF("leftId", "rightId")
    val m = Evaluator.perGroup(pred, gold, Seq("leftId", "rightId"),
        split(col("leftId"), "~").getItem(0))
      .select("tableName", "n_predicted", "n_gold", "tp",
        "precision", "recall", "f1", "binary_precision")
      .collect().map(r => r.getString(0) -> r).toMap

    assert(m.keySet === Set("A", "B", "C", "D"))
    // A: perfect table
    assert((m("A").getLong(1), m("A").getLong(2), m("A").getLong(3)) === ((2L, 2L, 2L)))
    assert(m("A").getDouble(4) === 1.0 && m("A").getDouble(5) === 1.0 &&
      m("A").getDouble(6) === 1.0 && m("A").getDouble(7) === 1.0)
    // B: the known-bad table — 1 of 2 predictions correct, 3 gold rows
    assert((m("B").getLong(1), m("B").getLong(2), m("B").getLong(3)) === ((2L, 3L, 1L)))
    assert(m("B").getDouble(4) === 0.5)
    assert(math.abs(m("B").getDouble(5) - 1.0 / 3.0) < 1e-12)
    assert(math.abs(m("B").getDouble(6) - 0.4) < 1e-12)
    assert(m("B").getDouble(7) === 0.0)
    // C: gold only — precision/binary undefined (null), recall 0
    assert(m("C").isNullAt(4) && m("C").getDouble(5) === 0.0 &&
      m("C").getDouble(6) === 0.0 && m("C").isNullAt(7))
    // D: prediction only — recall undefined, precision 0
    assert(m("D").getDouble(4) === 0.0 && m("D").isNullAt(5) &&
      m("D").getDouble(6) === 0.0 && m("D").getDouble(7) === 0.0)
  }

  test("group-averaged binary/non-binary precision aggregates") {
    val pred = Seq(("A~Col0", "p1"), ("A~Col1", "p2"), ("B~Col0", "px"))
      .toDF("leftId", "rightId")
    val gold = Seq(("A~Col0", "p1"), ("A~Col1", "p2"), ("B~Col0", "p1"))
      .toDF("leftId", "rightId")
    val byTable = Evaluator.perGroup(pred, gold, Seq("leftId", "rightId"),
      split(col("leftId"), "~").getItem(0))
    val r = byTable.agg(avg("precision"), avg("binary_precision")).head
    assert(r.getDouble(0) === 0.5)  // (1.0 + 0.0) / 2
    assert(r.getDouble(1) === 0.5)
  }

  test("evaluate: one uncached aggregation, same PRF as the cached form") {
    val keys = Seq("tableName", "rowNum")
    val pred = Seq[(String, java.lang.Integer)](("A", 1), ("A", 1), ("A", 2),
      (null, 3), (null, 3), ("B", null), ("C", 4)).toDF(keys: _*)
    val gold = Seq[(String, java.lang.Integer)](("A", 1), ("A", 1), (null, 3),
      ("B", null), ("C", 5), ("D", 6)).toDF(keys: _*)
    spark.catalog.clearCache()
    try {
      val got = Evaluator.evaluate(pred, gold, keys)
      assert(spark.sharedState.cacheManager.isEmpty)
      // distinct rows per side; a null key is counted but never matches
      assert(got === Evaluator.PRF(1, 5, 5))
      assert(got === ReferenceExprs.evaluateCached(pred, gold, keys))
    } finally spark.catalog.clearCache()
  }
}
