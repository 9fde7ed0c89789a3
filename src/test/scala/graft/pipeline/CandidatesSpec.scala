package graft.pipeline

import graft.SparkSpec
import graft.util.Udfs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/**
 * Candidate-generation kernel invariants on adversarial fixtures the
 * micro corpus doesn't cover. Regression focus: the narrow-key exact leg
 * aggregates per NAME (nameId) and re-attaches uris afterwards — a
 * corpus where many entities SHARE a name (duplicate labels, shared
 * surface forms) must still score shared-token counts per name, not per
 * (name × uri occurrence), and every uri of a shared name must receive
 * the same score (R2's max-over-names semantics).
 */
class CandidatesSpec extends SparkSpec {
  import spark.implicits._

  private def keyCols = spark.createDataFrame(
    java.util.List.of[org.apache.spark.sql.Row](
      org.apache.spark.sql.Row("t", 0)),
    StructType(Seq(StructField("tableName", StringType),
      StructField("colIdx", IntegerType))))

  private def cellsOf(rows: (Int, String)*) = rows.toSeq
    .toDF("rowNum", "text")
    .select(lit("t").as("tableName"), col("rowNum"), lit(0).as("colIdx"),
      lit("text").as("kind"), col("text"),
      lit(null).cast("string").as("mediaRef"))
    .select(col("*") +: Udfs.operands("text"): _*)

  /** index rows from (uri, classId, name) triples — one token row per
    * (uri, name, token), exactly like CandidateIndex.build output. */
  private def indexOf(names: (String, Int, String)*) = names.toSeq
    .toDF("uri", "classId", "name")
    .withColumn("toks", array_distinct(split(col("name"), " ")))
    .select(col("uri"), col("classId"),
      xxhash64(col("name")).as("nameId"),
      size(col("toks")).as("nNameTok"), explode(col("toks")).as("token"))
    .withColumn("idf", lit(1.0))

  test("shared names do not inflate shared-token counts (exact leg)") {
    // 40 uris share the label "alpha beta" — the per-name aggregation
    // must still see shared=2 (jaccard 1.0), not 2×40.
    val dupes = (1 to 40).map(i => (f"u$i%03d", 0, "alpha beta"))
    val index = indexOf(dupes :+ (("u900", 0, "alpha gamma")): _*)
    val out = Candidates.generate(cellsOf(0 -> "alpha beta"), keyCols, index,
      numCandidates = 100, simThreshold = 0.3)
      .select($"uri", $"score").as[(String, Double)].collect().toMap
    assert(out.size === 41)
    (1 to 40).foreach(i => assert(out(f"u$i%03d") === 1.0))
    // "alpha gamma": shared=1, jaccard 1/(2+2-1)
    assert(math.abs(out("u900") - 1.0 / 3.0) < 1e-12)
  }

  test("WebJaccard goldens on the selection score") {
    // reference WebJaccardStringSimilarityTest.java:14-21: "republic" vs
    // "republic party" = 0.5, equal strings = 1.0, no shared token = no
    // candidate at all (the token join finds none)
    val index = indexOf(("u1", 0, "republic party"), ("u2", 0, "republic"))
    val out = Candidates.generate(cellsOf(0 -> "republic", 1 -> "monarchy"),
      keyCols, index, numCandidates = 10, simThreshold = 0.0)
      .select($"rowNum", $"uri", $"score").as[(Int, String, Double)].collect()
    assert(out.map(r => (r._1, r._2) -> r._3).toMap ===
      Map((0, "u1") -> 0.5, (0, "u2") -> 1.0))
  }

  /** Selection at `simThreshold`, then refinement at the same threshold
    * against the class dim `classes` (tableName, classId) — the
    * pipeline's two lookups on one fixture. */
  private def refined(cells: DataFrame, index: DataFrame, simThreshold: Double,
                      classes: DataFrame = Seq(("t", 0)).toDF("tableName", "classId"),
                      numCandidates: Int = 100): DataFrame = {
    val selection = Candidates.generate(cells, keyCols, index, numCandidates,
      simThreshold)
    Candidates.refineFromSelection(selection, classes, cells, keyCols, index,
      Candidates.variantIndex(index), numCandidates, simThreshold)
  }

  test("every uri of a shared name scores identically in the fuzzy leg") {
    val dupes = (1 to 7).map(i => (s"v$i", 0, "delta epsilon"))
    val index = indexOf(dupes: _*)
    // typo'd key: "delta epsilom" — ED-1 of epsilon; no exact hit at 0.5
    val out = refined(cellsOf(0 -> "delta epsilom"), index, simThreshold = 0.5)
      .select($"uri", $"score").as[(String, Double)].collect().toMap
    assert(out.size === 7)
    // both tokens within ED 1 → sharedFuzzy=2, jaccardFuzzy=1.0, ×0.999
    out.values.foreach(s => assert(math.abs(s - 0.999) < 1e-12))
  }

  test("max over an entity's multiple names (label + surface form)") {
    // u1 has two names; the better-matching one must win (R2 semantics)
    val index = indexOf(("u1", 0, "zeta eta theta"), ("u1", 0, "zeta eta"))
    val out = Candidates.generate(cellsOf(0 -> "zeta eta"), keyCols, index,
      numCandidates = 10, simThreshold = 0.1)
      .select($"uri", $"score").as[(String, Double)].collect().toMap
    assert(out.size === 1)
    assert(out("u1") === 1.0) // the exact surface form, not 2/3 via the label
  }

  test("retrieval rank uses only threshold-clearing names (IDF cut)") {
    // ADVICE r4: a sub-threshold name carrying the max idfSum must NOT
    // set its uri's retrieval rank — the per-name threshold applies
    // before the per-uri max(idfSum) (the Lucene-faithful reading: the
    // reference re-scores the retrieved name itself). u1's high-idf name
    // "gamma g1..g9" scores 1/12 < 0.3; under the pre-narrow-key
    // semantics its idfSum=50 would out-rank u2's 3 at the top-1 cut.
    val longTail = (1 to 9).map(i => s"g$i").mkString(" ")
    val index = indexOf(("u1", 0, "alpha"), ("u1", 0, s"gamma $longTail"),
        ("u2", 0, "alpha beta"))
      .withColumn("idf", coalesce(element_at(
        typedLit(Map("alpha" -> 1.0, "beta" -> 2.0, "gamma" -> 50.0)),
        col("token")), lit(0.1)))
    val out = Candidates.generate(cellsOf(0 -> "alpha beta gamma"), keyCols,
      index, numCandidates = 1, simThreshold = 0.3, rankByIdf = true)
      .select($"uri").as[String].collect().toSeq
    assert(out === Seq("u2"))
  }

  test("class filter prunes before scoring") {
    // row 0 hits exactly (its selection is class-filtered); row 1's typo
    // misses at 0.4 and goes through the fuzzy leg, whose class filter
    // runs before the per-name aggregation
    val index = indexOf(("a1", 1, "iota kappa"), ("a2", 2, "iota kappa"))
    val cpt = Seq(("t", 1)).toDF("tableName", "classId")
    val out = refined(cellsOf(0 -> "iota kappa", 1 -> "iota kappo"), index,
        simThreshold = 0.4, classes = cpt, numCandidates = 10)
      .select($"rowNum", $"uri").as[(Int, String)].collect()
    assert(out.filter(_._1 == 0).map(_._2).toSet === Set("a1"))
    assert(out.filter(_._1 == 1).map(_._2).toSet === Set("a1"))
  }

  test("refinement: a hit row keeps only its exact candidates, a miss row gets fuzzy ones") {
    // row 0 "lambda sigma" matches n1 exactly; n2 "lambda sigmas" is its
    // typo neighbour (edit distance 1) and must NOT join row 0's
    // candidates. Row 1 "lambda sigmo" has no exact candidate >= 0.7 and
    // gets n1 through the fuzzy leg, scored 0.999 (sigmas is 2 edits away).
    val index = indexOf(("n1", 0, "lambda sigma"), ("n2", 0, "lambda sigmas"))
    val out = refined(cellsOf(0 -> "lambda sigma", 1 -> "lambda sigmo"), index,
        simThreshold = 0.7)
      .select($"rowNum", $"uri", $"score").as[(Int, String, Double)].collect()
    assert(out.filter(_._1 == 0).map(r => r._2 -> r._3).toMap === Map("n1" -> 1.0))
    val miss = out.filter(_._1 == 1).map(r => r._2 -> r._3).toMap
    assert(miss.keySet === Set("n1"))
    assert(math.abs(miss("n1") - 0.999) < 1e-12)
  }
}
