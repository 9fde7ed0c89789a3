package graft.pipeline

import graft.checkpoint.{Checkpointer, LocalCheckpointer}
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
 * stage boundaries optionally checkpoint (resumable, with lineage).
 *
 * All reference thresholds land verbatim in [[T2KConfig]] (SURVEY.md §7.4).
 */
case class T2KConfig(
  selectionCandidates: Int = 50, selectionThreshold: Double = 0.2,   // CandidateSelection.java:52-56
  refinementCandidates: Int = 100, refinementThreshold: Double = 0.7, // CandidateRefinement.java:56-60
  refinementEditDistance: Int = 1,                                    // CandidateRefinement.java:58 (fuzzy lookup)
  classConsensus: Double = 0.5, classFallbackTopK: Int = 5,           // ClassDecision.java:104-127
  dupK: Int = 2, dupThreshold: Double = 0.5,                          // DuplicateBasedSchemaMatching.java:91-93
  voteThreshold: Double = 0.4,                                        // SchemaVotingRule threshold
  dupResultThreshold: Double = 0.02,                                  // T2KMatch.java:321-323 (class-refinement pass only)
  dupLoopThreshold: Double = 0.0,                                     // DuplicateBasedSchemaMatching.java:72 default (iterative loop)
  combineWeightDup: Double = 0.8, combineWeightLabel: Double = 0.2,
  combineThreshold: Double = 0.03,                                    // CombineSchemaCorrespondences.java:80-121
  irThreshold: Double = 0.1, keyWeight: Double = 5.0,                 // DataTypeDependentRecordMatchingRule
  kurtosisMin: Double = 2.0,                                          // ClassAndTypeBasedSchemaBlocker.java:249-260
  numIterations: Int = 1,                                             // T2KMatch.java:153-154
  tokenDfCap: Long = 100000, mappedRatio: Double = 0.0,
  variantTokenDfCap: Long = 2000,   // fuzzy deletion-variant guard; unit = DISTINCT TOKENS per deletion shape (round-3 change from row-level occurrences — far weaker pruning needed; revisit any tuning against the old unit)
  idfRanking: Boolean = true,                                         // IDF-weighted selection cut (Lucene TF-IDF analog; measured +0.34pp T2D selection recall, no loss)
  saltHotTokenDf: Long = 0)                                           // >0: salt the candidate token join for tokens at/above this df

/** `schemaCombined` is the final iteration's PRE-top-1 combined schema
  * corr matrix — the input the reference's SF emission filter consumed
  * (SimilarityFloodingPipeline.java:46-119); exposed for the
  * emission-parity mode and per-pair accounting. */
case class T2KResult(instanceCorrs: DataFrame, schemaCorrs: DataFrame,
                     classCorrs: DataFrame, triples: DataFrame,
                     schemaCombined: DataFrame,
                     cached: Seq[DataFrame] = Nil) {
  /** Unpersist the dims run() pinned. Only the non-local persist()
    * fallback registers frames here (CacheManager entries outlive the
    * call — a sweep-style caller invoking run() per corpus would
    * accumulate them for the life of the app otherwise); local-master
    * checkpoint blocks are ContextCleaner-reclaimed and register
    * nothing. Call once the result frames are written/collected. */
  def release(): Unit = cached.foreach { df =>
    try df.unpersist(blocking = false) catch { case _: Throwable => () }
  }
}

object T2KPipeline {

  /** Top-1 per group window, deterministic tie-break on `tieCol`. */
  private def top1(df: DataFrame, part: Seq[String], tieCol: String): DataFrame =
    df.withColumn("rk", row_number().over(
        Window.partitionBy(part.map(col): _*)
          .orderBy(col("score").desc, col(tieCol).asc)))
      .filter(col("rk") === 1).drop("rk")

  /** Eager LOCAL CHECKPOINT for reused dims — materialise once, at
    * definition (a serial job barrier per dim: under AQE even a lazy
    * checkpoint runs the dim's shuffle stages there, see
    * LocalCheckpointer) AND truncate the logical plan.
    * The r4 persist()-based version kept each dim's full plan visible to
    * every consumer, so the classes/pairs/dup0 subtrees (which nest each
    * other) were re-ANALYZED inside every downstream stage's definition:
    * measured 22 s of the micro pipeline's 29 s driver-side Catalyst
    * work, and the same multiplicative re-analysis on every corpus.
    * Truncation bounds each subtree's planning to once. Blocks are
    * ContextCleaner-reclaimed.
    *
    * LOCAL MASTERS ONLY: checkpointed blocks are NOT recomputable, so on
    * a real cluster an executor loss (or dynamic-allocation decommission)
    * would fail the job instead of recomputing the dim. Non-local masters
    * therefore fall back to persist(): each consumer stage re-analyzes
    * the dim's (small) plan, but the job survives block loss; durable
    * truncation on a cluster is the ParquetCheckpointer's job. */
  private def cacheInto(pinned: collection.mutable.Buffer[DataFrame])
                       (df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.isLocal)
      // eager: same rationale as LocalCheckpointer (r7) — AQE materialises
      // the stages at definition either way; eager additionally truncates
      // the RDD graph so downstream task binaries stay small
      df.localCheckpoint(true)
    else {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pinned += p
      p
    }

  def run(docs: DataFrame, kb: KbIngest.Ingested, surfaceForms: DataFrame,
          hierarchy: Map[String, String],
          cfg: T2KConfig = T2KConfig(),
          ckpt: Checkpointer = LocalCheckpointer): T2KResult = {
    val pinned = collection.mutable.ArrayBuffer[DataFrame]()
    val cache = cacheInto(pinned) _

    // --- decode + dims (S1) ---------------------------------------------
    val cells = ckpt("cells", SpanCodec.cells(docs))
    val webCols = cache(SpanCodec.columns(docs)) // small dim: one row/column
    val keyCols = Keys.detect(webCols)
    val keyCorrs = Keys.keyCorrs(keyCols)
    // kb.cells feeds ~8 downstream joins: checkpoint once so each reuse
    // references the materialised table, not the full ingest lineage.
    val kbCells = ckpt("kb_cells", kb.cells)
    // from the header block (NOT from cell values): valueless properties
    // still exist for label matching and class refinement
    val kbPropsByClass = cache(kb.propsByClass)
    val propClasses = kbPropsByClass.select("classId", "propId").distinct()

    // --- candidate index (S5) -------------------------------------------
    val index = ckpt("candidate_tokens",
      CandidateIndex.build(kbCells, surfaceForms, cfg.tokenDfCap))
    // deletion-variant expansion: a pure function of the index — built and
    // checkpointed ONCE here; rebuilding it inside each generate() call was
    // the refinement stage's dominant cost (270 s on the T2D run)
    val variants =
      if (cfg.refinementEditDistance > 0)
        Some(ckpt("candidate_variants",
          Candidates.variantIndex(index, cfg.variantTokenDfCap)))
      else None

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
    val selection = ckpt("candidates_selected", spread(Candidates.generate(
      cells, keyCols, index, cfg.selectionCandidates, cfg.selectionThreshold,
      rankByIdf = cfg.idfRanking, saltHotTokenDf = cfg.saltHotTokenDf)))

    // --- class decision (A1-A3) -----------------------------------------
    val classes0 = cache(Classes.decide(selection, kb.classes,
      cfg.classConsensus, cfg.classFallbackTopK))

    // --- candidate refinement (class-filtered, th 0.7, fuzzy-on-miss) ---
    val refined = ckpt("candidates_refined", spread(
      Candidates.refineFromSelection(selection, classes0, cells, keyCols,
        index, cfg.refinementCandidates, cfg.refinementThreshold,
        cfg.refinementEditDistance, cfg.variantTokenDfCap, variants)))

    // --- first duplicate-based schema matching + class refinement -------
    val pairs0 = Schema.blockPairs(webCols, classes0, kbPropsByClass, cfg.kurtosisMin)
    val dup0 = cache(Schema.duplicateBased(refined, cells, kbCells,
      pairs0, cfg.dupK, cfg.dupThreshold, cfg.voteThreshold,
      cfg.dupResultThreshold, Some(surfaceForms)))
    val schemaSeed = dup0.unionByName(keyCorrs.join(
      dup0.select("tableName", "colIdx"), Seq("tableName", "colIdx"), "left_anti"))
    val classesRefined = Classes.refine(schemaSeed, propClasses, classes0)
    // fall back to the top decision class for tables where refinement
    // found nothing; the emitted class decision is argmax-only, while the
    // candidate-filter set additionally admits superclasses (A4).
    val classes0Top1 = top1(classes0.withColumnRenamed("classScore", "score"),
      Seq("tableName"), "classId").withColumnRenamed("score", "classScore")
    val classesBest = cache(classesRefined.unionByName(
      classes0Top1.join(classesRefined.select("tableName").distinct(),
        Seq("tableName"), "left_anti")))
    val classes = cache(
      Classes.withAncestors(classesBest, kb.classes, hierarchy))
    // No spread(): unlike the window-top-N stages, the semi-join's output
    // is shuffle-partitioned on (tableName, classId) and stays wide; the
    // round-robin repartition only added a second full shuffle of the
    // refined set (the r3 profile's worst stage: 538 task-s at 0.441
    // cpu/run on the 505k-doc run, half of it the extra exchange).
    val candidates = ckpt("candidates_filtered",
      Classes.filterCandidates(refined, classes))

    // --- iteration loop (T2KMatch.java:356-405) -------------------------
    val pairs = cache(
      Schema.blockPairs(webCols, classes, kbPropsByClass, cfg.kurtosisMin))
    var schemaCorrs: DataFrame = null
    var instanceCands: DataFrame = candidates
    // Barrier elision for SINGLE-CONSUMER stages (non-durable
    // checkpointers only): the final iteration's instance_cands feeds
    // exactly one consumer (the 1:1 top-1 window), so a truncation
    // barrier there buys nothing — its subtree is already bounded by the
    // schema_corrs/candidates_filtered barriers — and costs one full AQE
    // materialisation round. Durable (Parquet) runs keep every stage:
    // resume layout and manifest are unchanged.
    val nIter = math.max(cfg.numIterations, 1)
    for (it <- 0 until nIter) {
      val label = Schema.labelBased(pairs, webCols, kb.props)
      val dup = Schema.duplicateBased(instanceCands, cells, kbCells, pairs,
        cfg.dupK, cfg.dupThreshold, cfg.voteThreshold, cfg.dupLoopThreshold,
        Some(surfaceForms))
      val combined = Schema.combine(dup, label, keyCorrs,
        cfg.combineWeightDup, cfg.combineWeightLabel, cfg.combineThreshold)
      schemaCorrs = if (it == 0) combined else Schema.update(schemaCorrs, combined)
      schemaCorrs = ckpt(s"schema_corrs_it$it", schemaCorrs)
      val resolved = spread(Identity.resolve(
        instanceCands, schemaCorrs, keyCols, cells, kbCells, webCols,
        cfg.keyWeight, cfg.irThreshold))
      instanceCands =
        if (it == nIter - 1 && !ckpt.durable) resolved
        else ckpt(s"instance_cands_it$it", resolved)
    }

    // --- 1:1 top-1 (T2KMatch.java:411-413) ------------------------------
    val instanceTop1 = cache(
      top1(instanceCands, Seq("tableName", "rowNum"), "uri"))
    val schemaTop1 = cache(
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
    // single consumer (the caller's write/collect) -> barrier elided for
    // non-durable checkpointers; ParquetCheckpointer users still get a
    // durable stage via ckpt
    val triplesDf = Triples.generate(instF, schemaF, cells, kbCells,
      kb.props, webCols)
    val triples = if (ckpt.durable) ckpt("triples", triplesDf) else triplesDf

    T2KResult(instF, schemaF, classCorrs, triples, schemaCorrs, pinned.toSeq)
  }
}
