package graft.pipeline

import graft.checkpoint.{Checkpointer, LocalCheckpointer, Materialize}
import graft.kb.{CandidateIndex, KbIngest}
import graft.model.SpanCodec
import graft.triples.Triples
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The full matching pipeline (reference T2KMatch.match(),
 * /root/reference .../t2k/match/T2KMatch.java:250-684; lifecycle documented
 * in SURVEY.md §3.1). Every stage is a lazily-planned DataFrame transform;
 * every barrier between stages is a named stage of the run's
 * [[Checkpointer]]. The pipeline alone places the barriers: a frame is a
 * stage when more than one consumer reads it, plus the three index stages
 * of [[T2KPipeline.index]]; the last iteration's instance candidates and
 * the triples have one consumer each and are never stages. Every
 * checkpointer therefore sees the same stage names in the same order.
 *
 * Each reference threshold (SURVEY.md §7.4) is a constant stated once,
 * with its citation: in the stage object that applies it (e.g.
 * `Classes.Consensus`, `Schema.CombineThreshold`, `CandidateIndex.DfCap`),
 * or in [[T2KPipeline]] when the stage takes it as a parameter
 * because other callers pass other values. [[T2KConfig]] holds only what a
 * caller varies: the two `T2KMain` flags `--iterations` and
 * `--mapped-ratio`.
 */
case class T2KConfig(
  numIterations: Int = 1,     // T2KMatch.java:153-154
  mappedRatio: Double = 0.0)  // >0: keep tables with nMapped/nRows >= it (A8)

/** `schemaCombined` is the final iteration's PRE-top-1 combined schema
  * corr matrix — the input the reference's SF emission filter consumed
  * (SimilarityFloodingPipeline.java:46-119); exposed for the
  * emission-parity mode and per-pair accounting. */
case class T2KResult(instanceCorrs: DataFrame, schemaCorrs: DataFrame,
                     classCorrs: DataFrame, triples: DataFrame,
                     schemaCombined: DataFrame)(scope: Materialize.Scope) {
  /** Unpersist every frame run() persisted: its stages, dims and index
    * ([[Materialize]] persists only on a non-local master, and
    * CacheManager entries outlive the call — a sweep-style caller invoking
    * run() per corpus would accumulate them for the life of the app
    * otherwise). Call once the result frames are written/collected. */
  def release(): Unit = scope.release()
}

object T2KPipeline {

  private val SelectionCandidates = 50    // CandidateSelection.java:52-56
  private val SelectionThreshold = 0.2
  private val RefinementCandidates = 100  // CandidateRefinement.java:56-60
  private val RefinementThreshold = 0.7
  private val DupResultThreshold = 0.02   // T2KMatch.java:321-323 (class-refinement pass only)
  private val DupLoopThreshold = 0.0      // DuplicateBasedSchemaMatching.java:72 default (iterative loop)

  /** Top-1 per group window, deterministic tie-break on `tieCol`. */
  private def top1(df: DataFrame, part: Seq[String], tieCol: String): DataFrame =
    df.withColumn("rk", row_number().over(
        Window.partitionBy(part.map(col): _*)
          .orderBy(col("score").desc, col(tieCol).asc)))
      .filter(col("rk") === 1).drop("rk")

  /** The index stages (S5): `kb_cells` ([[KbIngest.values]]: the KB's
    * values and their surface forms, typed once) -> `candidate_tokens` ->
    * `candidate_variants`, returned in that order. A Parquet checkpoint
    * dir built by `T2KMain --build-index` (the reference's offline
    * DBpediaIndexer.main, DBpediaIndexer.java:133-159) is resumed by a
    * later [[run]] against the same dir instead of rebuilt. */
  def index(kb: KbIngest.Ingested, surfaceForms: DataFrame,
            ckpt: Checkpointer): (DataFrame, DataFrame, DataFrame) = {
    // kb_cells feeds ~8 downstream joins: checkpoint once so each reuse
    // references the materialised table, not the full ingest lineage.
    val kbValues = ckpt("kb_cells", KbIngest.values(kb.cells, surfaceForms))
    val tokens = ckpt("candidate_tokens", CandidateIndex.build(kbValues))
    // deletion-variant expansion: a pure function of the index — built and
    // checkpointed ONCE here; rebuilding it inside each generate() call was
    // the refinement stage's dominant cost (270 s on the T2D run)
    val variants = ckpt("candidate_variants", Candidates.variantIndex(tokens))
    (kbValues, tokens, variants)
  }

  /** Every frame [[Materialize]] persists during the run (its
    * LocalCheckpointer stages) belongs to the run's scope, which
    * [[T2KResult.release]] frees. The frames of `kb` stay its caller's:
    * one KB serves many corpora. */
  def run(docs: DataFrame, kb: KbIngest.Ingested, surfaceForms: DataFrame,
          hierarchy: Map[String, String],
          cfg: T2KConfig = T2KConfig(),
          ckpt: Checkpointer = LocalCheckpointer): T2KResult = Materialize.scoped { scope =>
    // --- decode + dims (S1) ---------------------------------------------
    val cells = ckpt("cells", SpanCodec.cells(docs))
    val webCols = ckpt("web_cols", SpanCodec.columns(docs)) // small dim: one row/column
    val keyCols = Keys.detect(webCols)
    val keyCorrs = Keys.keyCorrs(keyCols)
    val (kbValues, tokens, variants) = index(kb, surfaceForms, ckpt)
    // from the header block (NOT from cell values): valueless properties
    // still exist for label matching and class refinement
    val kbPropsByClass = ckpt("kb_props_by_class", kb.propsByClass)
    val propClasses = kbPropsByClass.select("classId", "propId").distinct()

    // window top-N stages coalesce to ~1 partition under AQE at small
    // corpus sizes, serialising every downstream task (manifest evidence:
    // candidates_refined landed in 1 partition). Round-robin with explicit
    // N: a hash repartition on the window's own keys is ELIDED as
    // redundant (the window's exchange already satisfies it) and then
    // AQE-coalesced — measured: repartition(32, tableName, rowNum) after
    // the top-N window still wrote 1 file. Downstream joins reshuffle on
    // their own keys regardless, so round-robin loses nothing.
    val nShuffle = docs.sparkSession.sessionState.conf.numShufflePartitions
    def spread(df: DataFrame): DataFrame = df.repartition(nShuffle)

    // --- candidate selection (B1 + R1/R2) -------------------------------
    // checkpointed: consumed by the class decision AND as the refinement
    // pass's exact leg (refineFromSelection) — the token join runs ONCE.
    // IDF-weighted top-N cut: the Lucene TF-IDF analog (measured +0.34pp
    // T2D selection recall, no loss).
    val selection = ckpt("candidates_selected", spread(Candidates.generate(
      cells, keyCols, tokens, SelectionCandidates, SelectionThreshold,
      rankByIdf = true)))

    // --- class decision (A1-A3) -----------------------------------------
    val classes0 = ckpt("classes_decided", Classes.decide(selection, kb.classes))

    // --- candidate refinement (class-filtered, th 0.7, fuzzy-on-miss) ---
    // fuzzy lookup at edit distance 1 (CandidateRefinement.java:58)
    val refined = ckpt("candidates_refined", spread(
      Candidates.refineFromSelection(selection, classes0, cells, keyCols,
        tokens, variants, RefinementCandidates, RefinementThreshold)))

    // --- first duplicate-based schema matching + class refinement -------
    val pairs0 = Schema.blockPairs(webCols, classes0, kbPropsByClass)
    val dup0 = ckpt("schema_dup_seed", Schema.duplicateBased(refined, cells, kbValues,
      pairs0, DupResultThreshold))
    val schemaSeed = dup0.unionByName(keyCorrs.join(
      dup0.select("tableName", "colIdx"), Seq("tableName", "colIdx"), "left_anti"))
    val classesRefined = Classes.refine(schemaSeed, propClasses, classes0)
    // fall back to the top decision class for tables where refinement
    // found nothing; the emitted class decision is argmax-only, while the
    // candidate-filter set additionally admits superclasses (A4).
    val classes0Top1 = top1(classes0.withColumnRenamed("classScore", "score"),
      Seq("tableName"), "classId").withColumnRenamed("score", "classScore")
    val classesBest = ckpt("classes_best", classesRefined.unionByName(
      classes0Top1.join(classesRefined.select("tableName").distinct(),
        Seq("tableName"), "left_anti")))
    val classes = ckpt("classes_with_ancestors",
      Classes.withAncestors(classesBest, kb.classes, hierarchy))
    // No spread(): unlike the window-top-N stages, the semi-join's output
    // is shuffle-partitioned on (tableName, classId) and stays wide; the
    // round-robin repartition only added a second full shuffle of the
    // refined set (the r3 profile's worst stage: 538 task-s at 0.441
    // cpu/run on the 505k-doc run, half of it the extra exchange).
    val candidates = ckpt("candidates_filtered",
      Classes.filterCandidates(refined, classes))

    // --- iteration loop (T2KMatch.java:356-405) -------------------------
    val pairs = ckpt("schema_pairs",
      Schema.blockPairs(webCols, classes, kbPropsByClass))
    var schemaCorrs: DataFrame = null
    var instanceCands: DataFrame = candidates
    // The final iteration's instance_cands feeds exactly one consumer (the
    // 1:1 top-1 window), so it is not a stage: a barrier there buys no
    // plan-size or recompute reduction — its subtree is already bounded by
    // the schema_corrs/candidates_filtered stages — and costs one full AQE
    // materialisation round (~1-2 s per barrier on the micro corpus).
    val nIter = math.max(cfg.numIterations, 1)
    for (it <- 0 until nIter) {
      val label = Schema.labelBased(pairs, webCols, kb.props)
      val dup = Schema.duplicateBased(instanceCands, cells, kbValues, pairs,
        DupLoopThreshold)
      val combined = Schema.combine(dup, label, keyCorrs)
      schemaCorrs = if (it == 0) combined else Schema.update(schemaCorrs, combined)
      schemaCorrs = ckpt(s"schema_corrs_it$it", schemaCorrs)
      val resolved = spread(Identity.resolve(
        instanceCands, schemaCorrs, keyCols, cells, kbValues, webCols))
      instanceCands =
        if (it == nIter - 1) resolved else ckpt(s"instance_cands_it$it", resolved)
    }

    // --- 1:1 top-1 (T2KMatch.java:411-413) ------------------------------
    val instanceTop1 = ckpt("instance_top1",
      top1(instanceCands, Seq("tableName", "rowNum"), "uri"))
    val schemaTop1 = ckpt("schema_top1",
      top1(schemaCorrs, Seq("tableName", "colIdx"), "propId"))

    // --- optional mapped-ratio table filter (A8) ------------------------
    val (instF, schemaF) =
      if (cfg.mappedRatio <= 0.0) (instanceTop1, schemaTop1)
      else {
        val rowsPerTable = cells.select("tableName", "rowNum").distinct()
          .groupBy("tableName").agg(count(lit(1)).as("nRows"))
        val keep = instanceTop1.groupBy("tableName").agg(count(lit(1)).as("nMapped"))
          .join(rowsPerTable, "tableName")
          .filter(col("nMapped") / col("nRows") >= cfg.mappedRatio)
          .select("tableName")
        (instanceTop1.join(keep, Seq("tableName"), "left_semi"),
          schemaTop1.join(keep, Seq("tableName"), "left_semi"))
      }

    // --- class corrs + triples ------------------------------------------
    val classCorrs = classesBest
      .join(broadcast(kb.classes.select("classId", "className")), "classId")
      .select(col("tableName"), col("classId"), col("className"),
        col("classScore").as("score"))
    // single consumer (the caller's write or collect): not a stage
    val triples = Triples.generate(instF, schemaF, cells, kbValues,
      kb.props, webCols)

    T2KResult(instF, schemaF, classCorrs, triples, schemaCorrs)(scope)
  }
}
