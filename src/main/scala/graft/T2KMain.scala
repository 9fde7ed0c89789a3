package graft

import graft.checkpoint.{Checkpointer, LocalCheckpointer, Materialize, ParquetCheckpointer}
import graft.eval.{Diagnostics, Evaluator}
import graft.kb.Loaders
import graft.onetoone.{SFMatchers, SimilarityFlooding}
import graft.pipeline.{Keys, Schema, T2KConfig, T2KPipeline}
import graft.triples.{GraphSink, Triples}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * CLI equivalent of the reference's T2KMatch.main (T2KMatch.java:99-167):
 * a user of the reference points this at the same inputs and gets the
 * same outputs — instance/schema/class correspondence tables, extracted
 * triples (partitioned graph table), and P/R evaluation when gold
 * standards are provided.
 *
 * One [[T2KPipeline.run]] per call. The analysis modes (`--gs-*`,
 * `--sf-matcher`, `--sf-sweep`, `--parity-ref`) evaluate that run and read
 * its own stages (`cells`, `web_cols`, `kb_cells`, `kb_props_by_class`,
 * `classes_with_ancestors`, `schema_pairs`) instead of rebuilding them from
 * the inputs, as the reference's experiments run on its one match
 * (T2KMatch.java:469-651).
 *
 * Usage:
 *   runMain graft.T2KMain --web <dirOfCsvs | docsParquet> --kb <lodCsvDir>
 *     [--ontology <tsv>] [--sf <file>] [--redirect <file>] [--out <dir>]
 *     [--checkpoint <dir>] [--gs-instance <csv>] [--gs-class <csv>]
 *     [--gs-property <csv>] [--iterations N] [--mapped-ratio X]
 *     [--sf-matcher label|label-kb2wb|value|value-string] [--sf-sweep <dir>]
 *     [--parity-ref <refCsv> [--parity-out <dir>]
 *       [--parity-emit formula:minSim:filter:maxIter]]
 *   runMain graft.T2KMain --build-index <checkpointDir> --kb <lodCsvDir>
 *     [--ontology <tsv>] [--sf <file>] [--redirect <file>]
 */
object T2KMain {

  def main(args: Array[String]): Unit = {
    val spark = Sessions(sys.env.getOrElse("SPARK_MASTER", "local[32]"),
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, args) finally spark.stop()
  }

  /** The whole CLI on a caller's session, which it leaves running. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

    val hierarchy = opts.get("ontology")
      .map(Loaders.loadClassHierarchy(spark, _)).getOrElse(Nil)
    val kb = Loaders.loadLodCsvDir(spark, opts("kb"), hierarchy)
    val sf = Loaders.loadSurfaceForms(spark, opts.get("sf"), opts.get("redirect"))

    val cfg = T2KConfig(
      numIterations = opts.get("iterations").map(_.toInt).getOrElse(1),
      mappedRatio = opts.get("mapped-ratio").map(_.toDouble).getOrElse(0.0))

    // --- offline index build (DBpediaIndexer.java:133-159 counterpart) ---
    // --build-index <checkpointDir>: materialise the kb_cells ->
    // candidate_tokens -> candidate_variants stages ONCE for this --kb
    // (+ optional --sf/--redirect); pipeline runs pointed at the same
    // --checkpoint dir resume them instead of rebuilding — the
    // reference's offline-Lucene-index workflow (one KB, many corpora).
    // No --web needed in this mode.
    if (opts.contains("build-index")) {
      T2KPipeline.index(kb, sf, new ParquetCheckpointer(spark, opts("build-index")))
      println(s"built candidate index in ${opts("build-index")}")
      return
    }

    val webPath = opts("web")
    val docs =
      if (new java.io.File(webPath).isDirectory &&
        new java.io.File(webPath).listFiles().exists(_.getName.endsWith(".csv")))
        Loaders.loadWebTablesDir(spark, webPath)
      else spark.read.parquet(webPath)
    // one run; the analysis modes below read its stages by name
    val stages = collection.mutable.Map.empty[String, DataFrame]
    val store: Checkpointer = opts.get("checkpoint")
      .map(new ParquetCheckpointer(spark, _)).getOrElse(LocalCheckpointer)
    val result = T2KPipeline.run(docs, kb, sf, hierarchy.toMap, cfg, new Checkpointer {
      def apply(name: String, df: => DataFrame): DataFrame = {
        val stage = store(name, df); stages(name) = stage; stage
      }
    })
    val Seq(cells, webCols, kbValues, kbPropsByClass) =
      Seq("cells", "web_cols", "kb_cells", "kb_props_by_class").map(stages)

    val out = opts.getOrElse("out", "t2k_out")
    val props = kb.props.select("propId", "propUri")
    val schema = result.schemaCorrs.join(props, "propId")
    result.instanceCorrs.write.mode("overwrite").parquet(s"$out/instance_correspondences")
    schema.write.mode("overwrite").parquet(s"$out/schema_correspondences")
    result.classCorrs.write.mode("overwrite").parquet(s"$out/class_decision")
    // the triples are built once, by this write; the CSV and the LCWA
    // summary below read the written table back, without its partition
    // columns
    GraphSink.write(result.triples, s"$out/triples")
    val triples = spark.read.parquet(s"$out/triples")
      .select(result.triples.columns.map(col): _*)

    // Reference-format CSV artifacts (what a reference user diffs:
    // CSVCorrespondenceFormatter outputs + class_decision + triples,
    // T2KMatch.java:662-681) and the A9 candidate statistics: one
    // header-first CSV file per directory.
    def csv(df: DataFrame, path: String): Unit =
      df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    val rowId = concat(col("tableName"), lit("~Row"), col("rowNum"))
    val colId = concat(col("tableName"), lit("~Col"), col("colIdx"))
    def corrCsv(df: DataFrame, id1: Column, id2: String, path: String): Unit =
      csv(df.select(id1.as("id1"), col(id2).as("id2"), col("score")), path)
    corrCsv(result.instanceCorrs, rowId, "uri", s"$out/csv/instance_correspondences")
    corrCsv(schema, colId, "propUri", s"$out/csv/schema_correspondences")
    csv(result.classCorrs.select(col("tableName"), col("className"), col("score")),
      s"$out/csv/class_decision")
    csv(triples, s"$out/csv/extracted_triples")
    csv(Diagnostics.candidateStats(result.instanceCorrs), s"$out/csv/candidate_statistics")
    // LCWA summary (reference prints existing/correct%/new counts)
    val lcwa = Triples.lcwaStats(triples).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    val existing = lcwa.collect { case ((false, _), n) => n }.sum
    val correct = lcwa.getOrElse((false, true), 0L)
    val newT = lcwa.collect { case ((true, _), n) => n }.sum
    val pct = if (existing == 0) 0.0 else correct * 100.0 / existing
    println(f"Extracted $existing%d existing ($pct%.4f%% match values in KB) and $newT%d new triples!")

    def pr(prf: Evaluator.PRF, sep: String = " "): String =
      f"P=${prf.precision}%.4f${sep}R=${prf.recall}%.4f${sep}F1=${prf.f1}%.4f"

    // The reference prunes gold standards to the LOADED web tables
    // (T2KMatch.java:265-273) — gs rows for tables not in --web would
    // otherwise deflate recall (gs_class covers 233 tables, the shipped
    // dir has 116).
    val loadedTables = docs
      .select(substring_index(col("doc_id"), "#", 1).as("tableName")).distinct()
    def gold(path: String): DataFrame =
      Loaders.loadGoldStandard(spark, path).filter(col("isPositive"))
        .withColumn("tableName", split(col("leftId"), "~").getItem(0))
        .join(loadedTables, Seq("tableName"), "left_semi").drop("tableName")

    // --gs-<level>: corpus P/R/F1 and the per-table evaluation matrix (the
    // reference's evaluation.csv + row/col binary/non-binary precisions,
    // T2KMatch.java:1053-1094): one row per table with counts, P/R/F1 and
    // binary precision — what a user debugging ONE bad table reads first.
    val keys = Seq("leftId", "rightId")
    val levels = Seq(
      "instance" -> result.instanceCorrs.select(rowId.as("leftId"), col("uri").as("rightId")),
      "class" -> result.classCorrs.select(col("tableName").as("leftId"),
        col("className").as("rightId")),
      "property" -> schema.select(colId.as("leftId"), col("propUri").as("rightId")))
    for ((level, pred) <- levels; p <- opts.get(s"gs-$level")) {
      val gs = gold(p)
      println(s"$level ${pr(Evaluator.evaluate(pred, gs, keys))}")
      val byTable = Evaluator.perGroup(pred, gs, keys, split(col("leftId"), "~").getItem(0))
      csv(byTable.orderBy("tableName"), s"$out/csv/evaluation_$level")
      if (level == "property") {
        // Corpus-level group-averaged precisions (the reference's printed
        // non-binary / binary precision, per row-group = table and per
        // col-group = web column; avg() skips groups with no predictions).
        val byCol = Evaluator.perGroup(pred, gs, keys, col("leftId"), "columnId")
        val Seq(r, c) = Seq(byTable, byCol)
          .map(_.agg(avg("precision"), avg("binary_precision")).head)
        println(f"property nonBinaryPrecision(row)=${r.getDouble(0)}%.4f " +
          f"binaryPrecision(row)=${r.getDouble(1)}%.4f " +
          f"nonBinaryPrecision(col)=${c.getDouble(0)}%.4f " +
          f"binaryPrecision(col)=${c.getDouble(1)}%.4f")
      }
    }

    // SF correspondences as (tableName, colIdx, propId); KB2WB seeds have
    // the KB property on the left
    val classes = result.classCorrs.select("tableName", "classId")
    def sfPairs(corrs: DataFrame, kb2wb: Boolean = false): DataFrame =
      corrs.select(split(col("groupKey"), "\\|").getItem(0).as("tableName"),
        col(if (kb2wb) "right" else "left").as("colIdx"),
        col(if (kb2wb) "left" else "right").as("propId"))

    // --- similarity-flooding alternative schema matchers (F2/F3) ---------
    // --sf-matcher label|label-kb2wb|value|value-string: run the SF seed
    // matcher over the pipeline's class decision, fixpoint + stable 1:1,
    // write corrs, evaluate vs --gs-property when present.
    opts.get("sf-matcher").foreach { mode =>
      val seeds = mode match {
        case "label" | "label-kb2wb" => SFMatchers.labelSeeds(webCols, kb.props,
          kbPropsByClass, classes, if (mode == "label") "wb2kb" else "kb2wb")
        case "value" | "value-string" => SFMatchers.valueSeeds(result.instanceCorrs,
          cells, kbValues, webCols, typed = mode == "value")
        case other => throw new IllegalArgumentException(s"sf-matcher: $other")
      }
      val corrs = SimilarityFlooding.run(seeds)
      corrs.write.mode("overwrite").parquet(s"$out/sf_${mode}_correspondences")
      opts.get("gs-property").foreach { p =>
        val pred = sfPairs(corrs, mode.endsWith("kb2wb")).join(props, "propId")
          .select(colId.as("leftId"), col("propUri").as("rightId"))
        println(s"sf-$mode property ${pr(Evaluator.evaluate(pred, gold(p), keys))}")
      }
    }

    // --- F5 sweep: seed sources × formulas × minSim × 1:1 filters
    // (T2KMatch.java:469-651), one P/R row per config. Seed sources:
    //  pipeline  — the reference's SF input: FULL (web col × class prop)
    //              matrix zero-padded around post-combine scores
    //              (SimilarityFloodingPipelineComparator semantics);
    //  label     — F2 label-based seeds;
    //  value     — F3 typed value-based seeds.
    opts.get("sf-sweep").foreach { sweepOut =>
      val seedSources = Seq(
        "pipeline" -> SFMatchers.pipelineMatrixSeeds(
          result.schemaCorrs, webCols, kbPropsByClass, classes),
        "label" -> SFMatchers.labelSeeds(webCols, kb.props, kbPropsByClass, classes),
        "value" -> SFMatchers.valueSeeds(result.instanceCorrs, cells,
          kbValues, webCols, typed = true))
      val goldPairs = opts.get("gs-property").map { p =>
        gold(p)
          .select(split(col("leftId"), "~Col").getItem(0).as("tableName"),
            split(col("leftId"), "~Col").getItem(1).cast("int").as("left"),
            col("rightId").as("propUri"))
          .join(props.withColumnRenamed("propId", "right"), "propUri")
          .join(classes, "tableName")
          .select(concat(col("tableName"), lit("|"), col("classId")).as("groupKey"),
            col("left"), col("right"))
      }.getOrElse(seedSources.head._2.limit(0).select("groupKey", "left", "right"))
      val table = SFMatchers.sweep(seedSources, goldPairs)
      csv(table, sweepOut)
      table.orderBy(col("f1").desc).show(60, truncate = false)
    }

    // --- emission parity vs the reference's own emitted artifact ---------
    // The reference's one shipped artifact (output/SF_schema_correspondences
    // .csv, 183 rows) is an SF-flood + StableMarriage 1:1 filter over the
    // pipeline's COMBINED (pre-top-1) corr matrix, emitted with the raw
    // combine-stage seed scores (SimilarityFloodingPipeline.java:46-119;
    // provenance analysis in BENCH/reference_parity.md). This mode
    // (a) writes a per-reference-pair accounting CSV — emitted-at-top-1 /
    // in-matrix-but-lost-at-top-1 (with the winning property) / absent —
    // and (b) sweeps emission filters over the SAME combined matrix,
    // writing the parity artifact for the configured emission filter.
    //   --parity-ref <refCsv> [--parity-out <dir>]
    //   [--parity-emit formula:minSim:filter:maxIter   default none:0.02:stable:0]
    opts.get("parity-ref").foreach { refCsv =>
      val outDir = opts.getOrElse("parity-out", s"$out/parity")
      val cellKeys = Seq("tableName", "colIdx", "propUri")
      val ref = spark.read.csv(refCsv).select(
        split(col("_c0"), "~Col").getItem(0).as("tableName"),
        split(col("_c0"), "~Col").getItem(1).cast("int").as("colIdx"),
        col("_c1").as("propUri"),
        col("_c2").cast("double").as("refScore"))
      val combined = Materialize(result.schemaCombined.join(props, "propId")
        .select(col("tableName"), col("colIdx"), col("propId"),
          col("propUri"), col("score")))
      val top1 = schema.select(col("tableName"), col("colIdx"), col("propUri"),
        col("score").as("top1Score"))
      val top1Set = top1.select(cellKeys.map(col): _*)

      // (a) per-pair accounting
      val winners = top1.select(col("tableName"), col("colIdx"),
        col("propUri").as("winnerUri"), col("top1Score").as("winnerScore"))
      val acct = ref
        .join(combined.select(col("tableName"), col("colIdx"), col("propUri"),
          col("score").as("matrixScore")), cellKeys, "left")
        .join(top1Set.withColumn("inTop1", lit(true)), cellKeys, "left")
        .join(winners, Seq("tableName", "colIdx"), "left")
        .withColumn("status",
          when(col("inTop1"), "emitted")
            .when(col("matrixScore").isNotNull, "lost_at_top1")
            .otherwise("absent_from_matrix"))
      csv(acct.orderBy("status", "tableName", "colIdx"), s"$outDir/accounting")
      acct.groupBy("status").count().orderBy("status").show(truncate = false)

      // (b) emission filters over the combined matrix
      val seeds = Materialize(SFMatchers.pipelineMatrixSeeds(
        result.schemaCombined, webCols, kbPropsByClass, classes))
      val refPairs = ref.select(cellKeys.map(col): _*)
      def evalRef(e: DataFrame): Evaluator.PRF =
        Evaluator.evaluate(e.select(cellKeys.map(col): _*), refPairs, cellKeys)
      def emitLine(name: String, e: DataFrame): Unit = {
        val prf = evalRef(e)
        println(s"EMIT|$name|${pr(prf, "|")}|tp=${prf.tp}|ours=${prf.predicted}|ref=${prf.gold}")
      }
      // re-attach the COMBINE seed score (the reference emits seeds, not
      // flooded scores) and drop zero-seed cells the 1:1 kept
      def emitted(formula: String, minSim: Double, filter: String,
                  maxIter: Int): DataFrame =
        sfPairs(SimilarityFlooding.run(seeds, formula, minSim, filter, maxIter))
          .join(combined, Seq("tableName", "colIdx", "propId"))
      val grid = Seq(
        ("none", 0.02, "stable", 0), ("none", 0.02, "hungarian", 0),
        ("none", 0.05, "stable", 0), ("none", 0.10, "stable", 0),
        ("A", 0.05, "stable", 1000), ("A", 0.10, "stable", 1000),
        ("C", 0.05, "stable", 1000), ("B", 0.05, "stable", 1000))
      grid.foreach { case (f, m, filt, it) =>
        emitLine(s"$f|$m|$filt|$it", emitted(if (f == "none") "A" else f, m, filt,
          if (f == "none") 0 else it))
      }

      // Label-state emission: the artifact's score histogram (114×0.8 key
      // corrs + 56×0.08 = 0.4-GSJ label votes + 13 dup-influenced rows)
      // shows the emitting run had almost NO instance matching — so the
      // faithful reconstruction of ITS matrix is key corrs + the label
      // leg alone, over the run's ancestor-closed class set and blocked
      // pairs (the pipeline's blocker admits superclass-owned properties,
      // A4, and the reference artifact carries such rows, e.g. `language`
      // on a Country table). Build that matrix, 1:1-filter it the same
      // way, and also measure the UNION with the shipped-config top-1 set
      // (both states' emissions — the two-provenance artifact).
      val keyCorrs = Keys.keyCorrs(Keys.detect(webCols))
      val label = Schema.labelBased(stages("schema_pairs"), webCols, kb.props)
      val labelMatrix = Materialize(Schema.combine(label.limit(0), label, keyCorrs)
        .join(props, "propId"))
      val labelSeeds = SFMatchers.pipelineMatrixSeeds(
        labelMatrix.select("tableName", "colIdx", "propId", "score"),
        webCols, kbPropsByClass, stages("classes_with_ancestors"))
      val labelState = Materialize(
        sfPairs(SimilarityFlooding.run(labelSeeds, "A", 0.02, "stable", 0))
          .distinct() // the same (col, prop) can win in several class groups
          .join(labelMatrix.select("tableName", "colIdx", "propId", "propUri", "score"),
            Seq("tableName", "colIdx", "propId")))
      emitLine("labelstate-stable", labelState)
      corrCsv(labelState, colId, "propUri", s"$outDir/labelstate_artifact")
      emitLine("shipped-top1", top1Set)
      emitLine("union-both-states",
        top1Set.unionByName(labelState.select(cellKeys.map(col): _*)).distinct())
      // the committed two-provenance artifact: shipped-config top-1 rows
      // carry the combine score; label-state-only rows carry the
      // label-matrix score
      val unionArtifact = top1.withColumnRenamed("top1Score", "score")
        .unionByName(labelState.join(top1Set, cellKeys, "left_anti")
          .select(col("tableName"), col("colIdx"), col("propUri"), col("score")))
      corrCsv(unionArtifact, colId, "propUri", s"$outDir/union_artifact")

      val Array(ef, em, efilt, eit) =
        opts.getOrElse("parity-emit", "none:0.02:stable:0").split(":")
      val artifact = emitted(if (ef == "none") "A" else ef, em.toDouble, efilt,
        if (ef == "none") 0 else eit.toInt)
      corrCsv(artifact, colId, "propUri", s"$outDir/emission_artifact")
      val prf = evalRef(artifact)
      println(s"EMISSION-ARTIFACT $ef:$em:$efilt ${pr(prf)} (tp=${prf.tp} " +
        s"ours=${prf.predicted} ref=${prf.gold}) -> $outDir/emission_artifact")
    }

    println(s"wrote correspondences + triples to $out")
  }
}
