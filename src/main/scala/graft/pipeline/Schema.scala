package graft.pipeline

import graft.kb.KbIngest
import graft.model.Dtype
import graft.text.{Normalize, Similarity}
import graft.util.Udfs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Schema matching (SURVEY.md §2.2 B4, §2.3 R7-R8, §2.4 A5-A7).
 *
 * Reference components re-expressed:
 *  - ClassAndTypeBasedSchemaBlocker.java:64-282 — candidate column pairs
 *    (class member, equal types, kurtosis >= 2 gate for numerics);
 *  - SchemaVotingRule.java:71-92 + T2KVoting.java:42-55 +
 *    DuplicateBasedSchemaMatching.java:70-133 — duplicate-based voting
 *    (top-2 duplicates/row above 0.5; vote if value sim >= 0.4; vote value
 *    = sim × duplicate score; aggregate = sum/count);
 *  - SchemaLabelComparator.java:32-40 / LabelBasedSchemaMatching.java:70-74
 *    — header-label matching via GeneralisedStringJaccard(0.5, 0.5);
 *  - CombineSchemaCorrespondences.java:80-121 — 0.8·dup + 0.2·label,
 *    group-sum, threshold 0.03, append key corrs;
 *  - UpdateSchemaCorrespondences.java:53-75 — 0.5·prev + 0.5·cur.
 *
 * Scale notes: the voting join's fan-out is (top-2 dups/row) × (blocked
 * column pairs) — flat rows, aggregated immediately (never the reference's
 * nested per-pair collections). Dimension sides (blocked pairs, schema
 * corrs) are broadcast; the row-scale side shuffles once on (uri) for the
 * KB-value join.
 */
object Schema {

  private val KurtosisMin = 2.0       // ClassAndTypeBasedSchemaBlocker.java:249-260
  private val DupK = 2                // DuplicateBasedSchemaMatching.java:91-93
  private val DupThreshold = 0.5
  private val VoteThreshold = 0.4     // SchemaVotingRule threshold
  private val WeightDup = 0.8         // CombineSchemaCorrespondences.java:80-121
  private val WeightLabel = 0.2
  private val CombineThreshold = 0.03
  private val UpdateWeight = 0.5      // UpdateSchemaCorrespondences.java:53-75

  /**
   * B4: blocked column pairs
   * (tableName, colIdx, propId, classId, dtype, yearRange).
   * `kbPropsByClass` = distinct (classId, propId, dtype) from kb_cells.
   */
  def blockPairs(webCols: DataFrame, classesPerTable: DataFrame,
                 kbPropsByClass: DataFrame): DataFrame = {
    webCols.filter(col("dtype") =!= "media")
      .join(classesPerTable.select("tableName", "classId"), "tableName")
      .join(kbPropsByClass.withColumnRenamed("dtype", "kbDtype"), Seq("classId"))
      .filter(col("dtype") === col("kbDtype"))
      .filter(col("dtype") =!= Dtype.Numeric ||
        (col("kurtosis").isNotNull && col("kurtosis") >= KurtosisMin))
      .select("tableName", "colIdx", "propId", "classId", "dtype", "yearRange")
      .distinct()
  }

  /** Typed value similarity dispatch (R4-R6 semantics) over the operands
    * of the web cell and the KB value ([[Udfs.operands]]): string -> GSJ
    * with the reference's 0.5 jaccard floor (DuplicateBasedSchemaMatching
    * .java:81 wires GeneralisedStringJaccard(Levenshtein, 0.5, 0.5), which
    * zeroes scores below 0.5 BEFORE the 0.4 vote threshold), numeric ->
    * deviation sim, date -> weighted date sim (1,3,5) — the non-string
    * comparators have no inner floor. */
  private def valueSim(dtypeCol: String): org.apache.spark.sql.Column = {
    val strSim = Udfs.gsjFast(col("textNorm"), col("valueNorm"))
    val numSim = Similarity.deviationSimCol(col("textNum"), col("valueNum"))
    val dateSim = Similarity.weightedDateSimCol(col("textDate"), col("valueDate"),
      col("yearRange"))
    when(col(dtypeCol) === Dtype.Numeric, coalesce(numSim, lit(0.0)))
      .when(col(dtypeCol) === Dtype.Date, coalesce(dateSim, lit(0.0)))
      .otherwise(coalesce(strSim, lit(0.0)))
  }

  /**
   * Duplicate-based schema matching. `candidates` are instance corrs;
   * top-`DupK` per row above `DupThreshold` act as duplicates; each
   * (duplicate × blocked pair) with value sim >= `VoteThreshold` votes
   * sim × dupScore; score = sum(votes)/count(votes), kept above
   * `resultThreshold`. rdfs:label is never a vote target
   * (SchemaVotingRule.java:71-92). `kbValues` ([[KbIngest.values]]) holds
   * each KB value's surface forms as extra rows: string KB values are
   * also compared with their surface forms, and the max per pair keeps
   * the best (R5, MatchableTableRowComparatorBasedOnSurfaceForms
   * .java:34-127).
   */
  def duplicateBased(candidates: DataFrame, cells: DataFrame, kbValues: DataFrame,
                     pairs: DataFrame, resultThreshold: Double): DataFrame = {
    // The top-DupK window keeps its STRING tie-break (score desc, uri asc
    // — reference ordering); the ids enter only after it, so the heavy
    // joins and both vote aggregations below run on 8-byte tableId/uriId
    // instead of the table-name and ~50-char URI strings (same
    // dictionary-encoding + collision policy as the candidate path).
    val dups = candidates.filter(col("score") >= DupThreshold)
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("tableName"), col("rowNum"))
          .orderBy(col("score").desc, col("uri").asc)))
      .filter(col("rk") <= DupK)
      .select(xxhash64(col("tableName")).as("tableId"), col("rowNum"),
        xxhash64(col("uri")).as("uriId"), col("score").as("dupScore"))
    val webVals = cells.filter(col("kind") === "text")
      .select(xxhash64(col("tableName")).as("tableId"), col("rowNum"),
        col("colIdx"), col("textNorm"), col("textNum"), col("textDate"))
    val kbVals = kbValues.select(xxhash64(col("uri")).as("uriId"), col("propId"),
      col("valueNorm"), col("valueNum"), col("valueDate"))
    // pairs is O(#tables × cols × props) — never force a broadcast of it;
    // AQE broadcasts when it measures small.
    val pairsEnc = pairs.filter(col("propId") =!= KbIngest.RdfsLabelPropId)
      .withColumn("tableId", xxhash64(col("tableName"))).drop("tableName")
    val joined = dups
      .join(webVals, Seq("tableId", "rowNum"))
      .join(pairsEnc, Seq("tableId", "colIdx"))
      .join(kbVals, Seq("uriId", "propId"))
      .withColumn("sim", valueSim("dtype"))
    // Multi-valued KB cells: one vote per (duplicate, column pair) = max sim.
    val votes = joined
      .groupBy(col("tableId"), col("rowNum"), col("uriId"), col("colIdx"),
        col("propId"), col("dupScore"))
      .agg(max(col("sim")).as("sim"))
      .filter(col("sim") >= VoteThreshold)
    // EXACT decimal accumulation: a double sum's value depends on the
    // nondeterministic partition/merge order (ulp drift that can flip
    // borderline thresholds downstream — measured when the shuffle keys
    // changed); decimal(30,15) addition is exact, so the score is a pure
    // function of the vote SET — bit-identical under any partitioning,
    // parallelism or cluster size.
    votes.groupBy(col("tableId"), col("colIdx"), col("propId"))
      .agg((sum((col("sim") * col("dupScore")).cast("decimal(30,15)"))
        .cast("double") / count(lit(1))).as("score"))
      .filter(col("score") >= resultThreshold)
      // re-attach names on the schema-level result (O(#tables × cols))
      .join(pairs.select(col("tableName")).distinct()
        .withColumn("tableId", xxhash64(col("tableName"))), "tableId")
      .select("tableName", "colIdx", "propId", "score")
  }

  /** R7/R10: label-based matching over headers of blocked pairs. Headers
    * are normalised here: they are column metadata, not cell values. */
  def labelBased(pairs: DataFrame, webCols: DataFrame, kbProps: DataFrame): DataFrame = {
    pairs.join(webCols.select("tableName", "colIdx", "header"), Seq("tableName", "colIdx"))
      .join(broadcast(kbProps.select(col("propId"), col("header").as("propHeader"))), "propId")
      .withColumn("score", Udfs.gsj(Normalize.normaliseCol(col("header")),
        Normalize.normaliseCol(col("propHeader"))))
      .filter(col("score") > 0.0)
      .groupBy(col("tableName"), col("colIdx"), col("propId"))
      .agg(max(col("score")).as("score"))
  }

  /** A6: combine 0.8·dup + 0.2·label, group-sum, threshold, append key corrs. */
  def combine(dup: DataFrame, label: DataFrame, keyCorrs: DataFrame): DataFrame = {
    val merged = dup.withColumn("score", col("score") * WeightDup)
      .unionByName(label.withColumn("score", col("score") * WeightLabel))
      .groupBy(col("tableName"), col("colIdx"), col("propId"))
      // exact sum (see duplicateBased): the 0.03 threshold below must not
      // depend on which union leg's partition merges first
      .agg(sum(col("score").cast("decimal(30,15)")).cast("double").as("score"))
      .filter(col("score") >= CombineThreshold)
    // key corrs win over any conflicting derived corr for the same column
    merged.join(keyCorrs.select("tableName", "colIdx"),
        Seq("tableName", "colIdx"), "left_anti")
      .unionByName(keyCorrs)
  }

  /** A7: iteration smoothing — 0.5·previous + 0.5·current. */
  def update(prev: DataFrame, cur: DataFrame): DataFrame =
    prev.withColumn("score", col("score") * UpdateWeight)
      .unionByName(cur.withColumn("score", col("score") * UpdateWeight))
      .groupBy(col("tableName"), col("colIdx"), col("propId"))
      .agg(sum(col("score").cast("decimal(30,15)")).cast("double").as("score"))
}
