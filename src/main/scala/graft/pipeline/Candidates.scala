package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Candidate generation / selection / refinement (SURVEY.md §2.2 B1-B2,
 * §2.3 R1-R3). Reference shape: per web row, look up the key-cell value in
 * the Lucene entity index, score candidates by WebJaccard against
 * {label} ∪ surfaceForms, keep top-N above a threshold
 * (/root/reference .../t2k/match/blocking/CandidateGenerationMultiKeyBlocker
 * .java:97-223, CandidateSelection.java:52-56 [N=50, th=0.2],
 * CandidateRefinement.java:56-60 [N=100, th=0.7, class-filtered]).
 *
 * Spark shape: the Lucene lookup is an equi-join on tokens against the
 * candidate-token table. Because both key values and index names carry
 * DISTINCT token sets with their sizes, the exact token-set Jaccard is
 * computed inside the aggregation (shared / (nKey + nName - shared)) — no
 * UDF, the whole path is joins + hash aggregation inside whole-stage
 * codegen. R2's "max over surface forms" is the final max() per (row, uri).
 *
 * Two lookups, as in the reference: [[generate]] is selection (exact
 * tokens, edit distance 0) and [[refineFromSelection]] is refinement
 * (edit distance 1, class-filtered), derived from the selection output.
 *
 * Scale notes: the token join is the engine's biggest shuffle; the index
 * side drops stop tokens (CandidateIndex.DfCap), and candidates per row are
 * bounded by a window top-N so downstream fan-out is capped. Refinement's
 * class filter is applied BEFORE the fuzzy aggregation so pruned classes
 * never reach the shuffle.
 */
object Candidates {

  // Unit: DISTINCT index tokens per deletion shape (see variantIndex).
  private val VariantTokenDfCap = 2000L

  /** Dictionary dim for re-attaching table names after the hot path:
    * (tableId = xxhash64(tableName), tableName), one row per table with a
    * detected key column — O(#tables), joined only against the top-N
    * SURVIVORS, never the aggregation volumes. The hot candidate shuffles
    * (token join, per-name groupBy, top-N window) key on the fixed 8-byte
    * id instead of the table-name string — the same dictionary-encoding
    * the KB side already uses (classId, nameId = xxhash64(nameNorm)), and
    * it accepts the same negligible birthday-collision odds (~n²/2⁶⁵ for
    * n tables; a collision would merge two tables' candidate row sets). */
  def tableDim(keyCols: DataFrame): DataFrame =
    keyCols.select(col("tableName")).distinct()
      .withColumn("tableId", xxhash64(col("tableName")))

  /** cells + keyCols -> one record per (row, distinct key token). Only the
    * 8-byte tableId, the token and the set size survive into the shuffle —
    * neither the key string nor the table-name string is needed downstream
    * (Jaccard is computed from counts; names re-attach via [[tableDim]]). */
  def keyTokens(cells: DataFrame, keyCols: DataFrame): DataFrame = {
    cells.join(keyCols, Seq("tableName", "colIdx"))
      .filter(col("kind") === "text")
      .select(xxhash64(col("tableName")).as("tableId"), col("rowNum"),
        col("textNorm").as("keyNorm"))
      .filter(col("keyNorm").isNotNull)
      .withColumn("keyTokens", array_distinct(split(col("keyNorm"), " ")))
      .withColumn("nKeyTok", size(col("keyTokens")))
      .select(col("tableId"), col("rowNum"), col("nKeyTok"),
        explode(col("keyTokens")).as("token"))
  }

  /** Single-character deletions of a token (symdelete): two tokens are
    * within edit distance 1 iff (self ∪ deletions) intersect. Tokens
    * shorter than `minLen` are not expanded (they only match exactly),
    * bounding the fan-out the way Lucene's fuzzy rewrite effectively does
    * on short terms. Pure column expression (stays in codegen). */
  private def deletions(token: Column, minLen: Int = 4): Column =
    when(length(token) < minLen, array().cast("array<string>")).otherwise(
      array_distinct(transform(sequence(lit(0), length(token) - 1),
        i => concat(token.substr(lit(1), i),
          token.substr(i + 2, length(token))))))

  /**
   * Deletion-variant expansion of the index's DISTINCT TOKENS — a pure
   * function of the KB, built ONCE (and checkpointed next to
   * `candidate_tokens`) instead of re-expanded inside every refinement
   * call. Token-level, not row-level: the ED-1 neighborhood of a Zipfian
   * corpus is bounded by |vocabulary|, so expanding VOCABULARY entries
   * (and equi-joining rows back through the verified token pairs) keeps
   * the fuzzy leg's shuffle at the exact leg's scale — the row-level
   * expansion put every occurrence of a hot token through the variant
   * join (165M-row blowups at sf0.1; the round-2 `VariantTokenDfCap` silently
   * dropped hot shapes to survive, diverging from the uncapped oracle).
   *
   * Self-variants are kept unconditionally; deletion variants shared by
   * more than `VariantTokenDfCap` DISTINCT tokens are dropped — at token
   * level the cap only triggers on degenerate vocabularies, so engine
   * and (uncapped) oracle agree at any realistic scale.
   */
  def variantIndex(candidateTokens: DataFrame): DataFrame = {
    val toks = candidateTokens.select(col("token").as("idxToken")).distinct()
    val self = toks.select(col("idxToken"), col("idxToken").as("variant"))
    val del0 = toks.select(col("idxToken"),
      explode(deletions(col("idxToken"))).as("variant"))
    val delDf = del0.groupBy("variant").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= VariantTokenDfCap).drop("_df")
    self.unionByName(del0.join(delDf, "variant"))
  }

  /** Exact leg: Jaccard per (row, candidate name) from shared-token
    * counts. Names are pre-hashed 64-bit ids (CandidateIndex) — the
    * aggregation only needs name identity. With `withIdf`, also carries
    * sum(idf of shared tokens) — the Lucene-score analog used for the
    * retrieval cut.
    *
    * Shuffle shape (the engine's single biggest aggregation): the uri
    * string stays OUT of the token join and the per-name groupBy — rows
    * aggregate on (tableId, rowNum, classId, nameId, counts), the
    * per-name threshold is applied on the aggregated counts, and uris
    * are re-attached to the (much smaller) survivor set through the
    * (nameId, classId) name dim. Equivalent output: every uri sharing a
    * nameId has an identical token set, and a per-name score below
    * `simThreshold` can never lift a per-uri max past it. The retrieval
    * score (max idfSum per uri) is thereby computed over the names that
    * CLEAR the threshold — the Lucene-faithful reading (the reference
    * re-scores the retrieved name itself); measured output-identical on
    * the T2D selection (same rows, same gold coverage). */
  private def exactPerName(kt: DataFrame, candidateTokens: DataFrame,
                           withIdf: Boolean,
                           simThreshold: Double): DataFrame = {
    // NAME-level distinct: candidateTokens carries one row per (uri,
    // name, token), and entities SHARING a name (surface forms, duplicate
    // labels) would multiply both the join output and — fatally — the
    // count(1) shared-token aggregate. Dedup to (name, token) rows: the
    // join and the aggregation then run at name-level volume, and the
    // uri fan-out happens once, on the thresholded survivors.
    val idxCols = Seq(col("classId"), col("nameId"), col("nNameTok"),
      col("token")) ++ (if (withIdf) Seq(col("idf")) else Nil)
    val idx = candidateTokens.select(idxCols: _*).distinct()
    val aggs =
      if (withIdf) Seq(count(lit(1)).as("shared"), sum(col("idf")).as("idfSum"))
      else Seq(count(lit(1)).as("shared"))
    val scored = kt.join(idx, "token")
      .groupBy(col("tableId"), col("rowNum"), col("classId"),
        col("nameId"), col("nNameTok"), col("nKeyTok"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("jaccard", col("shared").cast("double") /
        (col("nKeyTok") + col("nNameTok") - col("shared")).cast("double"))
      .filter(col("jaccard") >= simThreshold)
    val nameDim = candidateTokens
      .select("nameId", "classId", "uri").distinct()
    val outCols = Seq(col("tableId"), col("rowNum"), col("uri"),
      col("classId"), col("jaccard")) ++ (if (withIdf) Seq(col("idfSum")) else Nil)
    scored.join(nameDim, Seq("nameId", "classId")).select(outCols: _*)
  }

  /** Fuzzy (edit distance 1) scores per (row, candidate name) for the
    * key-token rows in `kt` — the deletion-neighborhood join leg, with the
    * index side restricted to each table's classes `cpt` (tableId,
    * classId). The fuzzy intersection is bounded by BOTH sides:
    * countDistinct of key tokens alone can exceed the matched index tokens
    * (two key tokens hitting one index token), pushing jaccardFuzzy past
    * 1.0 and above a true exact match. The distance is verified with
    * levenshtein (the neighborhood intersection alone admits distance-2
    * pairs); the deletion neighborhood finds no pair beyond distance 1.
    *
    * Shuffle shape: the two countDistinct aggregates force a 3x expand,
    * so the aggregation runs on NARROW keys — (tableId, rowNum,
    * classId, nameId, counts), no uri or table-name string — with the per-name
    * threshold applied on the aggregated counts BEFORE uris are
    * re-attached through the (nameId, classId) name dim. Equivalent:
    * nameId = hash(nameNorm) means every uri sharing a name has an
    * identical token set (identical counts), and a per-name score below
    * `simThreshold` can never lift a per-uri max past it. Measured 2x on
    * the sf0.1 bench leg (3.4 s -> 1.3 s for the aggregation, and the
    * survivors entering the dim join drop from 1.79M to 77k). */
  private def fuzzyPerName(kt: DataFrame, candidateTokens: DataFrame,
                           cpt: DataFrame, variants: DataFrame,
                           simThreshold: Double): DataFrame = {
    // 1) distance-1 pairs at the DISTINCT-TOKEN level: key vocabulary x
    // index vocabulary (`variants`, the prebuilt [[variantIndex]]) through
    // the shared deletion neighborhood, levenshtein-verified. Bounded by
    // vocabulary sizes, not corpus size.
    val kTok = kt.select(col("token")).distinct()
      .select(col("token").as("keyToken"),
        explode(concat(array(col("token")), deletions(col("token")))).as("variant"))
    val edPairs = kTok.join(variants, "variant")
      .select("keyToken", "idxToken").distinct()
      .filter(col("keyToken") === col("idxToken") ||
        levenshtein(col("keyToken"), col("idxToken")) <= 1)
    // 2) rows join through the verified pairs — two equi-joins at the
    // exact leg's scale; the variant fan-out never touches row payloads.
    // uri stays OUT of the hot join/aggregation (narrow-key shape above).
    // No broadcast hint on the class filter: `cpt` is O(#tables) rows — at
    // millions of tables that's a multi-GB driver broadcast. AQE decides.
    val hits = kt.select(col("tableId"), col("rowNum"), col("nKeyTok"),
        col("token").as("keyToken"))
      .join(edPairs, "keyToken")
      .join(candidateTokens.select(col("classId"), col("nameId"),
        col("nNameTok"), col("token").as("idxToken")).distinct(), "idxToken")
      .join(cpt, Seq("tableId", "classId"), "left_semi")
    val scored = hits
      .groupBy(col("tableId"), col("rowNum"), col("classId"),
        col("nameId"), col("nNameTok"), col("nKeyTok"))
      .agg(countDistinct(when(col("keyToken") === col("idxToken"),
        col("keyToken"))).as("shared"),
        least(countDistinct(col("keyToken")),
          countDistinct(col("idxToken"))).as("sharedFuzzy"))
      .withColumn("jaccardExact", col("shared").cast("double") /
        (col("nKeyTok") + col("nNameTok") - col("shared")).cast("double"))
      .withColumn("jaccardFuzzy", col("sharedFuzzy").cast("double") /
        (col("nKeyTok") + col("nNameTok") - col("sharedFuzzy")).cast("double"))
      .withColumn("jaccard",
        greatest(col("jaccardExact"), col("jaccardFuzzy") * 0.999))
      .filter(col("jaccard") >= simThreshold)
    val nameDim = candidateTokens
      .select("nameId", "classId", "uri").distinct()
    scored.join(nameDim, Seq("nameId", "classId"))
      .select(col("tableId"), col("rowNum"), col("uri"), col("classId"),
        col("jaccard"))
  }

  /** Top `numCandidates` per (tableId, rowNum) by `ordering`, with table
    * names re-attached on the survivors only. */
  private def topN(perUri: DataFrame, keyCols: DataFrame, numCandidates: Int,
                   ordering: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("tableId"), col("rowNum")).orderBy(ordering: _*)
    perUri.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= numCandidates).drop("rk")
      .join(tableDim(keyCols), "tableId")
      .select("tableName", "rowNum", "uri", "classId", "score")
  }

  /**
   * Candidate refinement (reference lookup 2: top-100, th 0.7, edit
   * distance 1, class-filtered — CandidateRefinement.java:56-60,
   * KeyIndexLookup.java:112-145), DERIVED FROM the selection output
   * instead of a second full token join. Scores are
   * greatest(exactJaccard, 0.999 × fuzzyJaccard): the reference retrieves
   * fuzzily and re-scores with exact WebJaccard, so exact matches always
   * outrank typo matches, but a typo'd key cell whose tokens are all
   * within edit distance 1 still clears the threshold. `variants` is the
   * prebuilt [[variantIndex]] of `candidateTokens`.
   *
   * This is a measured APPROXIMATION of the reference,
   * not an equivalence: the reference re-queries its index per row
   * (top-100, th 0.7, class-filtered, ~1 fuzzy terms appended to EVERY
   * query — CandidateRefinement.java:56-60, DBPediaInstanceIndex.java:
   * 84-87), while this pass (a) reuses selection's class-UNFILTERED
   * top-`selectionCandidates` cut, so a same-class exact candidate pushed
   * below that rank by other-class candidates is lost, and (b) runs the
   * fuzzy leg only for rows with NO surviving exact candidate >=
   * `simThreshold`, so hit rows never gain fuzzy-only candidates. Both
   * gaps were quantified on the shipped T2D corpus (BENCH/BASELINE.md
   * round-4 refinement-funnel note) and cost no gold recall there —
   * jaccard >= 0.7 candidates rank far above the 0.2 selection floor in
   * practice. The payoff: the variant join is proportional to the MISS
   * count and the exact token join is not repeated at all — on T2D this
   * replaced a 270-440 s stage with a 79 s one.
   */
  def refineFromSelection(selection: DataFrame, classesPerTable: DataFrame,
                          cells: DataFrame, keyCols: DataFrame,
                          candidateTokens: DataFrame, variants: DataFrame,
                          numCandidates: Int, simThreshold: Double): DataFrame = {
    // Hot path runs on 8-byte tableIds (see tableDim); the checkpointed
    // selection and the class dim are encoded on entry, names re-attach
    // on the top-N survivors only.
    val cpt = classesPerTable
      .select(xxhash64(col("tableName")).as("tableId"), col("classId"))
    val exactHits = selection
      .withColumn("tableId", xxhash64(col("tableName"))).drop("tableName")
      .join(cpt, Seq("tableId", "classId"), "left_semi")
      .filter(col("score") >= simThreshold)
    // hit rows keep their exact candidates; the fuzzy leg runs only for
    // the rows with none, so its cost follows the miss count
    val hitRows = exactHits.select("tableId", "rowNum").distinct()
    val missKt = keyTokens(cells, keyCols)
      .join(hitRows, Seq("tableId", "rowNum"), "left_anti")
    val fuzzy = fuzzyPerName(missKt, candidateTokens, cpt, variants, simThreshold)
      .groupBy(col("tableId"), col("rowNum"), col("uri"), col("classId"))
      .agg(max(col("jaccard")).as("score"))
      .filter(col("score") >= simThreshold)
    topN(exactHits.select("tableId", "rowNum", "uri", "classId", "score")
        .unionByName(fuzzy),
      keyCols, numCandidates, Seq(col("score").desc, col("uri").asc))
  }

  /**
   * Candidate selection (reference lookup 1: top-50, th 0.2, edit
   * distance 0 — CandidateSelection.java:52-56):
   * (tableName, rowNum, uri, classId, score) with score = max over entity
   * names of the token Jaccard of the key value and the name (WebJaccard,
   * WebJaccardStringSimilarity.java:44-54); top `numCandidates` per row with
   * score >= simThreshold. With `rankByIdf` the top-N cut orders by the
   * IDF-weighted retrieval score (rare shared tokens beat stop-ish ones —
   * Lucene TF-IDF parity, SURVEY §2.2 B2) while the threshold keeps R1's
   * WebJaccard semantics; score stays Jaccard.
   */
  def generate(cells: DataFrame, keyCols: DataFrame, candidateTokens: DataFrame,
               numCandidates: Int, simThreshold: Double,
               rankByIdf: Boolean = false): DataFrame = {
    val perName = exactPerName(keyTokens(cells, keyCols), candidateTokens,
      rankByIdf, simThreshold)
    // R2: max over {label} ∪ surface forms
    val uriAggs =
      if (rankByIdf)
        Seq(max(col("jaccard")).as("score"), max(col("idfSum")).as("retrieval"))
      else Seq(max(col("jaccard")).as("score"))
    val perUri = perName
      .groupBy(col("tableId"), col("rowNum"), col("uri"), col("classId"))
      .agg(uriAggs.head, uriAggs.tail: _*)
      .filter(col("score") >= simThreshold)
    val ordering =
      if (rankByIdf) Seq(col("retrieval").desc, col("score").desc, col("uri").asc)
      else Seq(col("score").desc, col("uri").asc)
    topN(perUri, keyCols, numCandidates, ordering)
  }
}
